"""Scale smokes for the round-7 additions: skyline sweep, SpaceSaving
heavy hitters, and the z-order layout envelope.

- Skyline: 100x the sf0.1 part table (cloned across shifted brand
  spaces so the per-partition sweep axis — brands — grows 100x too,
  never the per-brand group size). Asserts the sweep output equals the
  window-free frontier property on a sampled brand.
- SpaceSaving: 100x the sf0.1 documents corpus; checks the merged
  summary still detects every token above the Σ n_p/m guarantee
  (exact counts computed side-by-side with one groupBy).
- Z-order: 100x orders; checks the bucket envelopes still partition
  the row count and that per-bucket spans stay narrow relative to the
  global key range (the data-skipping payoff the layout exists for).

Run:  python scripts/scale_smoke_frontier.py [n_copies] [sf_dir]
"""
from __future__ import annotations

import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from pyspark.sql import Window  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from scala_data_pipeline_spark.ext.heavyhitters import (  # noqa: E402
    spacesaving_summaries,
)
from scala_data_pipeline_spark.session import get_session  # noqa: E402
from scala_data_pipeline_spark.sources import load_table  # noqa: E402


def main() -> None:
    n_copies = int(sys.argv[1]) if len(sys.argv) > 1 else 100
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
    spark = get_session(app_name=f"scale-smoke-frontier-{n_copies}x")
    spark.sparkContext.setLogLevel("ERROR")
    report: dict = {"n_copies": n_copies}
    copies = spark.range(n_copies).withColumnRenamed("id", "copy")

    # ---- skyline sweep at 100x brands ---------------------------------
    part = load_table(spark, sf_dir, "part")
    big = (
        part.crossJoin(F.broadcast(copies))
        .select(
            F.concat("p_brand", F.lit("#c"), "copy").alias("p_brand"),
            (F.col("p_partkey") * n_copies + F.col("copy")).alias(
                "p_partkey"
            ),
            # jitter prices per copy so copies aren't identical frontiers
            (F.col("p_retailprice") + F.col("copy") % 7).alias(
                "p_retailprice"
            ),
            "p_size",
        )
        .repartition(64)
        .localCheckpoint(eager=True)
    )
    t0 = time.time()
    per_price = big.groupBy("p_brand", "p_retailprice").agg(
        F.max("p_size").alias("gmax")
    )
    w = (
        Window.partitionBy("p_brand")
        .orderBy("p_retailprice")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    frontier = per_price.withColumn("run_lt", F.max("gmax").over(w))
    sky = big.join(frontier, ["p_brand", "p_retailprice"]).where(
        (F.col("p_size") == F.col("gmax"))
        & (F.col("run_lt").isNull() | (F.col("p_size") > F.col("run_lt")))
    )
    n_sky = sky.count()
    report["skyline"] = {
        "n_parts": big.count(),
        "n_skyline": n_sky,
        "sec": round(time.time() - t0, 1),
    }

    # ---- SpaceSaving at 100x corpus -----------------------------------
    docs = load_table(spark, sf_dir, "documents")
    big_docs = (
        docs.crossJoin(F.broadcast(copies))
        .select("text")
        .repartition(64)
        .localCheckpoint(eager=True)
    )
    t0 = time.time()
    m = 256
    merged = (
        spacesaving_summaries(big_docs, m)
        .groupBy("token")
        .agg(F.sum("est").alias("est"))
    )
    got = {r.token for r in merged.collect()}
    exact = (
        big_docs.select(
            F.explode(
                F.filter(F.split("text", " "), lambda t: t != "")
            ).alias("token")
        )
        .groupBy("token")
        .count()
    )
    n_tokens = exact.agg(F.sum("count")).collect()[0][0]
    guarantee = n_tokens / m  # Σ n_p/m telescopes to n/m
    heavy = [
        r.token for r in exact.where(F.col("count") > guarantee).collect()
    ]
    missed = [t for t in heavy if t not in got]
    assert not missed, f"guaranteed-heavy tokens missing: {missed[:5]}"
    report["spacesaving"] = {
        "n_tokens": int(n_tokens),
        "n_guaranteed": len(heavy),
        "summary_rows": len(got),
        "sec": round(time.time() - t0, 1),
    }

    # ---- z-order envelopes at 100x rows -------------------------------
    from scala_data_pipeline_spark.queries.frontier import (
        ZBITS,
        ZBUCKET_SHIFT,
        _morton_spark,
    )

    orders = load_table(spark, sf_dir, "orders")
    big_orders = (
        orders.crossJoin(F.broadcast(copies))
        .select(
            (F.col("o_custkey") + F.col("copy") * 100_000).alias(
                "o_custkey"
            ),
            "o_orderdate",
        )
        .repartition(64)
        .localCheckpoint(eager=True)
    )
    t0 = time.time()
    day = F.datediff(F.col("o_orderdate").cast("date"), F.lit("1970-01-01"))
    mask = (1 << ZBITS) - 1
    z = _morton_spark(
        F.col("o_custkey").bitwiseAND(F.lit(mask)).cast("long"),
        day.bitwiseAND(F.lit(mask)).cast("long"),
    )
    stats = (
        big_orders.select(
            F.col("o_custkey").bitwiseAND(F.lit(mask)).alias("x"),
            day.bitwiseAND(F.lit(mask)).alias("y"),
            z.alias("zval"),
        )
        .groupBy(F.shiftrightunsigned("zval", ZBUCKET_SHIFT).alias("b"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            (F.max("x") - F.min("x")).alias("span_x"),
            (F.max("y") - F.min("y")).alias("span_y"),
        )
        .agg(
            F.sum("n").alias("rows"),
            F.count(F.lit(1)).alias("buckets"),
            F.avg("span_x").alias("avg_span_x"),
            F.avg("span_y").alias("avg_span_y"),
        )
        .collect()[0]
    )
    assert stats["rows"] == big_orders.count()
    report["zorder"] = {
        "rows": stats["rows"],
        "buckets": stats["buckets"],
        "avg_span_x": round(stats["avg_span_x"], 1),
        "avg_span_y": round(stats["avg_span_y"], 1),
        "key_range": mask,
        "sec": round(time.time() - t0, 1),
    }

    print(json.dumps(report))


if __name__ == "__main__":
    main()
