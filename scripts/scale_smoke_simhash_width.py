"""100x scale probe for the SimHash signature width (r16 verdict item 1).

The r16 probe measured the 32-bit/16-bit layout SATURATING at 500k docs
(2^16 block-key space under 1M block entries -> max bucket 38,693,
3.38e9 uncapped candidate pairs). This script is the reproducible
harness for that measurement plus the r17 fix: 64-bit sha2-256
signatures with 32-bit blocks (2^32 key space).

For each layout it computes, on the same dense 100x corpus
(scale_smoke_pairs.dense_corpus — 5k source docs x 100 near-dup
variants):

  - buckets(>=2): distinct (block, key) buckets holding 2+ docs
  - max bucket:   largest bucket population
  - uncapped candidate pairs: sum over buckets of C(n, 2) — what a
    capless implementation would have to verify

and then runs the full simhash_neardup_pairs at the DEFAULT layout,
recording wall-clock and output pair count. Saturation verdict: a
layout is saturated when its bucket count approaches its key space
(keys collide by pigeonhole, not by similarity).

Run:  python scripts/scale_smoke_simhash_width.py [n_copies] [sf_dir]
Defaults: 100 copies of /root/testdata/sf0.1/documents.parquet.
Results go to SCALE_NOTES.md; this script is the reproducible harness.
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

from scala_data_pipeline_spark.ext.dedup import (  # noqa: E402
    SIMHASH_PAIR_BITS,
    SIMHASH_PAIR_BLOCK,
    simhash,
    simhash_neardup_pairs,
)
from scala_data_pipeline_spark.session import get_session  # noqa: E402
from scale_smoke_pairs import dense_corpus  # noqa: E402


def bucket_stats(sigs, bits: int, block: int) -> dict:
    """Block-key bucket statistics for one (bits, block) layout over a
    checkpointed signature frame — mirrors the candidate-generation
    stage of simhash_neardup_pairs without materializing any pairs."""
    halves = sigs.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("block"),
                        F.substring("simhash", block * i + 1, block).alias(
                            "key"
                        ),
                    )
                    for i in range(bits // block)
                ]
            )
        ).alias("b"),
    ).select("b.block", "b.key")
    agg = (
        halves.groupBy("block", "key")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= 2)
        .agg(
            F.count(F.lit(1)).alias("buckets_ge2"),
            F.max("n").alias("max_bucket"),
            F.sum(F.col("n") * (F.col("n") - 1) / 2)
            .cast("long")
            .alias("uncapped_pairs"),
        )
        .collect()[0]
    )
    return {
        "layout": f"{bits}/{block}",
        "key_space": 2 ** block,
        "buckets_ge2": agg["buckets_ge2"],
        "max_bucket": agg["max_bucket"],
        "uncapped_pairs": agg["uncapped_pairs"],
    }


def main() -> None:
    n_copies = int(sys.argv[1]) if len(sys.argv) > 1 else 100
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
    spark = get_session(app_name=f"simhash-width-smoke-{n_copies}")
    spark.sparkContext.setLogLevel("ERROR")
    out: dict = {"n_copies": n_copies, "sf_dir": sf_dir, "layouts": []}
    with tempfile.TemporaryDirectory() as tmp:
        corpus = dense_corpus(spark, sf_dir, n_copies, f"{tmp}/corpus")
        out["n_docs"] = corpus.count()
        # One signature pass per digest width (<=32 is md5, >32 sha256);
        # both block layouts of a width share the checkpointed frame.
        for bits, blocks in ((64, (32,)), (32, (16,))):
            sigs = simhash(corpus, bits=bits).localCheckpoint(eager=True)
            for block in blocks:
                s = bucket_stats(sigs, bits, block)
                out["layouts"].append(s)
                print(json.dumps(s))
        t0 = time.monotonic()
        n_pairs = simhash_neardup_pairs(corpus).count()
        out["pair_run"] = {
            "layout": f"{SIMHASH_PAIR_BITS}/{SIMHASH_PAIR_BLOCK}",
            "wall_sec": round(time.monotonic() - t0, 2),
            "n_pairs": n_pairs,
        }
        print(json.dumps(out["pair_run"]))
    print(json.dumps(out))


if __name__ == "__main__":
    main()
