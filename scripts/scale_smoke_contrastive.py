"""100x scale smoke for contrastive triplet mining (round 7).

The dense tag-prefixed corpus (scale_smoke_pairs' shape) is exactly the
degenerate regime the round-6 advisor flagged: the LSH bucket cap
degrades oversized buckets to keeper stars, so most candidate pairs are
mostly-dissimilar (jaccard <= lo) — the hard-negative pool is nearly
the WHOLE candidate set. Before the fix, ranking that pool ran a
single-partition global window over all of it; the fix cuts it with
orderBy().limit() (TakeOrderedAndProject: per-partition top-k + driver
merge of per_anchor rows). This smoke runs the full chain

    lsh_candidate_pairs (100x corpus) -> contrastive_triplets

and records wall-clock plus output invariants (rank bound, hi/lo
thresholds honored, deterministic re-run identity).

Run:  python scripts/scale_smoke_contrastive.py [n_copies] [sf_dir]
Defaults: 100 copies of /root/testdata/sf0.1/documents.parquet.
"""
from __future__ import annotations

import os
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from pyspark.sql import functions as F  # noqa: E402

from scala_data_pipeline_spark.ext.dedup import (  # noqa: E402
    contrastive_triplets,
    lsh_candidate_pairs,
)
from scala_data_pipeline_spark.session import get_session  # noqa: E402
from scale_smoke_pairs import dense_corpus, timed  # noqa: E402


def main() -> None:
    n_copies = int(sys.argv[1]) if len(sys.argv) > 1 else 100
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
    spark = get_session(app_name=f"scale-smoke-contrastive-{n_copies}x")
    spark.sparkContext.setLogLevel("ERROR")
    report: dict = {"n_copies": n_copies, "sf_dir": sf_dir}

    with tempfile.TemporaryDirectory() as tmp:
        _, n_docs = timed(
            "corpus synth",
            lambda: dense_corpus(spark, sf_dir, n_copies, f"{tmp}/corpus").count(),
        )
        report["n_docs"] = n_docs
        corpus = spark.read.parquet(f"{tmp}/corpus")

        report["t_pairs"], report["n_pairs"] = timed(
            "lsh_candidate_pairs",
            lambda: (
                lsh_candidate_pairs(corpus)
                .write.mode("overwrite")
                .parquet(f"{tmp}/pairs"),
                spark.read.parquet(f"{tmp}/pairs").count(),
            )[1],
        )
        pairs = spark.read.parquet(f"{tmp}/pairs")

        t0 = time.monotonic()
        trips = contrastive_triplets(corpus, pairs)
        rows = trips.collect()
        report["t_triplets"] = round(time.monotonic() - t0, 1)
        report["n_triplets"] = len(rows)

        # Invariants: per-anchor rank bound, thresholds honored.
        assert all(1 <= r["rank"] <= 3 for r in rows)
        assert all(r["pos_jaccard"] >= 0.5 for r in rows)
        assert all(r["neg_jaccard"] <= 0.1 for r in rows)
        anchors = {}
        for r in rows:
            anchors[r["anchor_id"]] = anchors.get(r["anchor_id"], 0) + 1
        assert all(v <= 3 for v in anchors.values())
        report["n_anchors"] = len(anchors)

        # Determinism: the TakeOrdered cut must not change results
        # across runs/partitionings (total order by design).
        again = sorted(map(tuple, contrastive_triplets(corpus, pairs).collect()))
        assert again == sorted(map(tuple, rows)), "non-deterministic triplets"
        report["rerun_identical"] = True

    print("[smoke] report:", report, flush=True)


if __name__ == "__main__":
    main()
