"""Scale smoke for the incremental-refresh family (round-9, per the
round-7 verdict #6): the IVM join-mart (operators/ivm.py) and the
type-1 CDC apply (operators/scd.py::cdc_latest_wins) carry small-SF
bit-identity tests; this smoke pins their 100x claims with a committed
artifact:

1. **IVM refresh cost scales with |Δ|, not the base corpus**: a FIXED
   delta (one sf0.1 orders worth, ~150k rows) refreshed against a 10x
   mart and a 100x mart must cost ~the same — the refresh plan touches
   Δ rows + broadcast dims + the nation-grain mart, never the base
   facts.
2. **Merge-on-read ≡ rebuild bit-identity at 100x**: base-mart + Δ-mart
   merged (exact decimal partials) must equal the full rebuild over
   base+Δ facts TO THE BIT.
3. **CDC idempotence at 100x**: applying the same 100x changelog twice
   (at-least-once delivery) yields the identical state — deletes of
   absent keys no-op, upserts overwrite to the same value, synthesized
   insert names are stable.

Run:  python scripts/scale_smoke_ivm.py [n_copies]
Default: 100 copies of /root/testdata/sf0.1/orders.parquet
(~150k x 100 = 15M fact rows; orderkeys shifted per copy so the
changelog sequence stays a total order).
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

from scala_data_pipeline_spark.operators.ivm import (  # noqa: E402
    merge_marts,
    present_mart,
    revenue_mart,
)
from scala_data_pipeline_spark.operators.scd import (  # noqa: E402
    cdc_latest_wins,
)
from scala_data_pipeline_spark.session import get_session  # noqa: E402
from scala_data_pipeline_spark.sources import load_table  # noqa: E402

SF_DIR = "/root/testdata/sf0.1"
KEY_STRIDE = 100_000_000


def synth_orders(spark, n_copies: int, out: str) -> int:
    """n_copies replicas of sf0.1 orders; orderkeys shifted per copy
    (custkeys kept — they must keep joining the real dims)."""
    base = load_table(spark, SF_DIR, "orders")
    copies = spark.range(n_copies).withColumnRenamed("id", "copy")
    (
        base.crossJoin(F.broadcast(copies))
        .withColumn(
            "o_orderkey",
            F.col("o_orderkey") + F.col("copy") * F.lit(KEY_STRIDE),
        )
        .drop("copy")
        .repartition(64)
        .write.mode("overwrite")
        .parquet(out)
    )
    return spark.read.parquet(out).count()


def mart_rows(df) -> dict:
    return {
        r["nation"]: (str(r["revenue_partial"]), r["n_orders"])
        for r in df.collect()
    }


def main() -> None:
    n_copies = int(sys.argv[1]) if len(sys.argv) > 1 else 100
    spark = get_session(app_name=f"scale-smoke-ivm-{n_copies}x")
    spark.sparkContext.setLogLevel("ERROR")
    customer = load_table(spark, SF_DIR, "customer")
    nation = load_table(spark, SF_DIR, "nation")
    report: dict = {"n_copies": n_copies}

    with tempfile.TemporaryDirectory() as tmp:
        n_rows = synth_orders(spark, n_copies, f"{tmp}/orders")
        report["fact_rows_100x"] = n_rows
        small = max(n_copies // 10, 1)
        synth_orders(spark, small, f"{tmp}/orders_small")

        facts = spark.read.parquet(f"{tmp}/orders")
        facts_small = spark.read.parquet(f"{tmp}/orders_small")
        # fixed Δ: ONE sf0.1-sized batch, keys beyond every replica
        delta = (
            load_table(spark, SF_DIR, "orders")
            .withColumn(
                "o_orderkey",
                F.col("o_orderkey") + F.lit((n_copies + 1) * KEY_STRIDE),
            )
        )
        report["delta_rows"] = delta.count()

        # materialize both base marts (the state a production refresh
        # starts from — nation-grain, 25 rows)
        for name, f in (("mart", facts), ("mart_small", facts_small)):
            revenue_mart(f, customer, nation).write.mode(
                "overwrite"
            ).parquet(f"{tmp}/{name}")

        # claim 1: fixed-Δ refresh cost flat in base size
        times = {}
        for name in ("mart_small", "mart"):
            base_mart = spark.read.parquet(f"{tmp}/{name}")
            t0 = time.monotonic()
            merge_marts(
                base_mart, revenue_mart(delta, customer, nation)
            ).collect()
            times[name] = round(time.monotonic() - t0, 2)
        report["t_refresh_vs_10x_base_sec"] = times["mart_small"]
        report["t_refresh_vs_100x_base_sec"] = times["mart"]

        # claim 2: merge-on-read ≡ rebuild, to the bit, at 100x
        t0 = time.monotonic()
        rebuilt = mart_rows(
            revenue_mart(facts.unionByName(delta), customer, nation)
        )
        report["t_full_rebuild_100x_sec"] = round(time.monotonic() - t0, 2)
        merged = mart_rows(
            merge_marts(
                spark.read.parquet(f"{tmp}/mart"),
                revenue_mart(delta, customer, nation),
            )
        )
        assert merged == rebuilt, "IVM merge != rebuild at 100x"
        report["ivm_bit_identity_100x"] = True

        # claim 3: CDC idempotence at 100x changelog scale
        base = customer.select(
            F.col("c_custkey").alias("cust_key"),
            F.col("c_name").alias("name"),
            F.round("c_acctbal", 2).alias("acctbal"),
        )
        log = facts.select(
            F.col("o_custkey").alias("cust_key"),
            F.when(F.col("o_orderstatus") == "F", "D")
            .otherwise("U")
            .alias("op"),
            F.round("o_totalprice", 2).alias("new_acctbal"),
            "o_orderdate",
            "o_orderkey",
        )
        t0 = time.monotonic()
        once = cdc_latest_wins(base, log)
        once.write.mode("overwrite").parquet(f"{tmp}/cdc_once")
        report["t_cdc_apply_100x_sec"] = round(time.monotonic() - t0, 2)
        applied = spark.read.parquet(f"{tmp}/cdc_once")
        twice = cdc_latest_wins(
            applied.drop("last_op"), log
        )
        a = {r["cust_key"]: (r["name"], str(r["acctbal"]), r["last_op"])
             for r in applied.collect()}
        b = {r["cust_key"]: (r["name"], str(r["acctbal"]), r["last_op"])
             for r in twice.collect()}
        assert a == b, "CDC apply not idempotent at 100x"
        report["cdc_idempotent_100x"] = True
        report["cdc_state_rows"] = len(a)
        report["mart_rows"] = present_mart(
            spark.read.parquet(f"{tmp}/mart")
        ).count()

    print(json.dumps(report))


if __name__ == "__main__":
    main()
