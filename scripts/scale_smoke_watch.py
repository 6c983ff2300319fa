"""Decade scale smoke for the 10x-artifact watch items (round-16,
r15 verdict item 6; r14 item 5): ``text_token_count`` and
``sql_rollup_rank_share`` crept from ~4.2x/4.0x to ~5.5x/5.5x in the
10x artifacts across two rounds — still far under their linear(xlog)
limits, but the trend needed a decade run (50k -> 500k docs; 150k ->
1.5M orders at sf0.1) to settle whether the curve is linear with
fixed-cost amortization noise or genuinely super-linear.

Both plans are structurally linear: token_count is a pure regex
projection (no shuffle, output row per input row) and the rollup is
join + one rollup aggregate to a FIXED grain (nation x year) + windows
over that bounded grain — so decade-over-decade wall clock should track
corpus growth with slack only for fixed costs.

Round-17 adds ``edit_distance_verify`` (r16 watch: 10.97x measured at
10x against a 12.0 TIGHT limit — a sub-second base inflated the
ratio). Here the LSH candidate frame is built and checkpointed
UNTIMED, so the timed thunk is exactly the bounded-DP verify, and the
ratio is normalized by CANDIDATE growth, not doc growth: on the dense
corpus candidate pairs grow ~quadratically in copies (each source
doc's variants cluster), and the verify is linear in |candidates| by
construction — doc-count normalization would mislabel that input
growth as super-linearity. The lo decade's multi-second base also
stops fixed overhead from dominating the numerator.

Round-18 adds ``name_match_pairs`` (r17 watch item 7): the prefix-16
blocked-ER fix measured 8.07x at 10x, but that run's output grew 122x
(the sfx10 composite multiplies near-identical names) — here the synth
corpus regenerates names from DISTINCT keys ('Customer#%09d' over a
key range that grows with copies, exactly how a larger TPC-H SF looks),
so block cardinality grows with the range and the ratio is normalized
by max(row growth, output-pair growth).

Run:  python scripts/scale_smoke_watch.py [copies_lo] [copies_hi] [sf_dir]
Defaults: 10 100 /root/testdata/sf0.1.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from pyspark.sql import functions as F  # noqa: E402

from scala_data_pipeline_spark.ext.dedup import (  # noqa: E402
    edit_distance_verify,
    lsh_candidate_pairs,
)
from scala_data_pipeline_spark.ext.textstats import token_count  # noqa: E402
from scala_data_pipeline_spark.queries.frontier import (  # noqa: E402
    name_match_pairs,
)
from scala_data_pipeline_spark.queries.sql_api import (  # noqa: E402
    SQL_ROLLUP_RANK_SHARE,
)
from scala_data_pipeline_spark.session import get_session  # noqa: E402
from scripts.scale_smoke_pairs import dense_corpus, timed  # noqa: E402

FLAG_SLACK = 1.3  # the dsir-smoke precedent: linear +30% amortization


def synth_orders(spark, sf_dir: str, n_copies: int, out_dir: str):
    """n_copies of sf orders with distinct order keys, custkeys (and so
    the customer->nation join fan-out) preserved; dates shifted a few
    days per copy so the year grain keeps its selectivity. Written to
    parquet so the scan splits like a real corpus."""
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    copies = spark.range(n_copies).withColumnRenamed("id", "copy")
    (
        orders.crossJoin(F.broadcast(copies))
        .select(
            (F.col("o_orderkey") * n_copies + F.col("copy")).alias(
                "o_orderkey"
            ),
            "o_custkey",
            "o_totalprice",
            F.date_add("o_orderdate", (F.col("copy") % 7).cast("int")).alias(
                "o_orderdate"
            ),
        )
        .write.mode("overwrite")
        .parquet(out_dir)
    )
    return spark.read.parquet(out_dir)


def synth_customers(spark, sf_dir: str, n_copies: int, out_dir: str):
    """n_copies of sf customers with DISTINCT keys and names regenerated
    from those keys ('Customer#%09d' — the TPC-H generator's own form),
    so the name key RANGE grows with the corpus and prefix-16 block
    cardinality grows with it (the r17 blocked-ER lesson). Written to
    <out_dir>/customer.parquet so name_match_pairs' own load_table path
    reads it — the watch times the REAL registered query."""
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    copies = spark.range(n_copies).withColumnRenamed("id", "copy")
    key = F.col("c_custkey") * n_copies + F.col("copy")
    (
        cust.crossJoin(F.broadcast(copies))
        .select(
            key.alias("c_custkey"),
            F.concat(
                F.lit("Customer#"), F.lpad(key.cast("string"), 9, "0")
            ).alias("c_name"),
            "c_nationkey",
        )
        .write.mode("overwrite")
        .parquet(f"{out_dir}/customer.parquet")
    )


def name_match_decade(spark, sf_dir: str, n_copies: int, tmp: str) -> dict:
    out_dir = f"{tmp}/cust{n_copies}"
    synth_customers(spark, sf_dir, n_copies, out_dir)
    n_cust = spark.read.parquet(f"{out_dir}/customer.parquet").count()
    # Untimed warm rep on the lo decade's shape (bench methodology).
    name_match_pairs(spark, out_dir).limit(100).write.format("noop").mode(
        "overwrite"
    ).save()
    t_nm, _ = timed(
        f"name_match_pairs {n_copies}x ({n_cust} customers)",
        lambda: name_match_pairs(spark, out_dir)
        .write.format("noop")
        .mode("overwrite")
        .save(),
    )
    n_pairs = name_match_pairs(spark, out_dir).count()
    return {
        "n_copies": n_copies,
        "n_customers": n_cust,
        "n_pairs": n_pairs,
        "t_name_match": t_nm,
    }


def run_decade(spark, sf_dir: str, n_copies: int, tmp: str) -> dict:
    corpus = dense_corpus(
        spark, sf_dir, n_copies, f"{tmp}/docs{n_copies}", prefix_all=True
    )
    n_docs = corpus.count()
    t_tok, _ = timed(
        f"text_token_count {n_copies}x ({n_docs} docs)",
        lambda: token_count(corpus)
        .write.format("noop")
        .mode("overwrite")
        .save(),
    )

    orders = synth_orders(spark, sf_dir, n_copies, f"{tmp}/orders{n_copies}")
    n_orders = orders.count()
    orders.createOrReplaceTempView("orders")
    spark.read.parquet(f"{sf_dir}/customer.parquet").createOrReplaceTempView(
        "customer"
    )
    spark.read.parquet(f"{sf_dir}/nation.parquet").createOrReplaceTempView(
        "nation"
    )
    t_roll, _ = timed(
        f"sql_rollup_rank_share {n_copies}x ({n_orders} orders)",
        lambda: spark.sql(SQL_ROLLUP_RANK_SHARE)
        .write.format("noop")
        .mode("overwrite")
        .save(),
    )
    # Row count computed OUTSIDE the timed thunk (advisor r16: the old
    # `save() or .count()` form executed the query twice inside timed(),
    # inflating t_rollup ~2x vs t_token_count's single-run methodology).
    n_roll = spark.sql(SQL_ROLLUP_RANK_SHARE).count()

    # Candidate build is UNTIMED (eager checkpoint) — the watch item is
    # the verify stage, linear in |candidates|.
    cand = lsh_candidate_pairs(corpus).localCheckpoint(eager=True)
    n_cand = cand.count()
    # Untimed warm rep on a bounded slice (bench methodology): the lo
    # decade runs first and would otherwise absorb the codegen/Arrow
    # warm-up for this pipeline shape, inflating t_lo (first r17 run
    # measured t_lo 62.6 s > t_hi 42.0 s purely from run order).
    edit_distance_verify(corpus, cand.limit(2000)).write.format(
        "noop"
    ).mode("overwrite").save()
    t_edit, _ = timed(
        f"edit_distance_verify {n_copies}x ({n_cand} candidate pairs)",
        lambda: edit_distance_verify(corpus, cand)
        .write.format("noop")
        .mode("overwrite")
        .save(),
    )
    cand.unpersist()
    return {
        "n_copies": n_copies,
        "n_docs": n_docs,
        "n_orders": n_orders,
        "n_candidates": n_cand,
        "t_token_count": t_tok,
        "t_rollup": t_roll,
        "t_edit_distance": t_edit,
        "n_rollup_rows": n_roll,
    }


def main() -> None:
    lo = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    hi = int(sys.argv[2]) if len(sys.argv) > 2 else 100
    sf_dir = sys.argv[3] if len(sys.argv) > 3 else "/root/testdata/sf0.1"
    spark = get_session(app_name=f"scale-smoke-watch-{lo}-{hi}")
    spark.sparkContext.setLogLevel("ERROR")

    with tempfile.TemporaryDirectory() as tmp:
        a = run_decade(spark, sf_dir, lo, tmp)
        b = run_decade(spark, sf_dir, hi, tmp)
        nm_a = name_match_decade(spark, sf_dir, lo, tmp)
        nm_b = name_match_decade(spark, sf_dir, hi, tmp)

    growth = hi / lo
    report = {
        "sf_dir": sf_dir,
        "decades": [a, b],
        "growth": growth,
        "ratio_token_count": round(
            b["t_token_count"] / max(a["t_token_count"], 0.1), 2
        ),
        "ratio_rollup": round(b["t_rollup"] / max(a["t_rollup"], 0.1), 2),
        "ratio_edit_distance": round(
            b["t_edit_distance"] / max(a["t_edit_distance"], 0.1), 2
        ),
        "growth_candidates": round(
            b["n_candidates"] / max(a["n_candidates"], 1), 2
        ),
        "name_match": [nm_a, nm_b],
        "ratio_name_match": round(
            nm_b["t_name_match"] / max(nm_a["t_name_match"], 0.1), 2
        ),
        "growth_name_pairs": round(
            nm_b["n_pairs"] / max(nm_a["n_pairs"], 1), 2
        ),
    }
    # The rollup's output grain must stay FIXED across decades — if row
    # counts diverge, the decade comparison is comparing different
    # queries (dates shift within a week, so years are unchanged).
    assert a["n_rollup_rows"] == b["n_rollup_rows"], (
        a["n_rollup_rows"],
        b["n_rollup_rows"],
    )
    report["flag_threshold"] = round(growth * FLAG_SLACK, 2)
    # edit distance is linear in CANDIDATES; its input grows
    # quadratically in copies on the dense corpus, so it gets its own
    # threshold keyed to measured candidate growth.
    report["flag_threshold_edit"] = round(
        report["growth_candidates"] * FLAG_SLACK, 2
    )
    # name_match is linear in max(rows, true pairs) under corpus-scaling
    # block cardinality — normalize by whichever grew more.
    report["flag_threshold_name_match"] = round(
        max(growth, report["growth_name_pairs"]) * FLAG_SLACK, 2
    )
    report["flagged"] = [
        k
        for k in ("ratio_token_count", "ratio_rollup")
        if report[k] > report["flag_threshold"]
    ] + (
        ["ratio_edit_distance"]
        if report["ratio_edit_distance"] > report["flag_threshold_edit"]
        else []
    ) + (
        ["ratio_name_match"]
        if report["ratio_name_match"] > report["flag_threshold_name_match"]
        else []
    )
    print(json.dumps(report), flush=True)


if __name__ == "__main__":
    main()
