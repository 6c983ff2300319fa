"""Scale smokes for the round-6 operators: PageRank and PQ ANN.

1. PageRank at 100x: reuse scale_smoke_pairs' dense 500k-doc corpus to
   build the LSH pair graph, then run 3 fixed PageRank iterations over
   ~700k edges, checking mass conservation (sum of ranks == 1 up to
   rounding) — the invariant that breaks first if the join/agg
   iteration drops or duplicates contributions at scale.

2. PQ at 10x: 20k synthetic clustered vectors (10x the sf0.1
   embeddings count); train, encode, and ADC-score, checking that
   neighbors stay within the planted cluster and measuring wall-clock
   for the encode scan (the part that is linear in corpus size).

Run:  python scripts/scale_smoke_graph_pq.py [n_copies] [sf_dir]
Defaults: 100 copies for the graph, sf0.1.
"""
from __future__ import annotations

import os
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import numpy as np  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from scala_data_pipeline_spark.ext.dedup import lsh_candidate_pairs  # noqa: E402
from scala_data_pipeline_spark.ext.graph import pagerank_on_pairs  # noqa: E402
from scala_data_pipeline_spark.ext.pq import pq_topk  # noqa: E402
from scala_data_pipeline_spark.session import get_session  # noqa: E402
from scripts.scale_smoke_pairs import dense_corpus  # noqa: E402


def main() -> None:
    n_copies = int(sys.argv[1]) if len(sys.argv) > 1 else 100
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
    spark = get_session("scale-smoke-graph-pq")

    with tempfile.TemporaryDirectory() as tmp:
        corpus = dense_corpus(spark, sf_dir, n_copies, f"{tmp}/corpus")
        n_docs = corpus.count()

        t0 = time.time()
        pairs = lsh_candidate_pairs(corpus).localCheckpoint(eager=True)
        n_edges = pairs.count()
        t_pairs = time.time() - t0

        t0 = time.time()
        ranks = pagerank_on_pairs(pairs)
        stats = ranks.agg(
            F.count("*").alias("n"),
            F.sum(F.col("rank").cast("decimal(28,12)")).alias("mass"),
            F.max("rank").alias("max_rank"),
        ).collect()[0]
        t_pr = time.time() - t0
        mass = float(stats.mass)
        print(
            f"PAGERANK {n_docs} docs, {n_edges} edges: {t_pr:.1f}s "
            f"(pairs {t_pairs:.1f}s), vertices={stats.n}, "
            f"mass={mass:.9f}, max_rank={stats.max_rank:.6f}"
        )
        assert abs(mass - 1.0) < 1e-3, mass

    # --- PQ at 10x ---
    rng = np.random.default_rng(11)
    n_vec, n_clusters = 20_000, 50
    centers = rng.normal(size=(n_clusters, 64)) * 5.0
    rows = [
        (
            i,
            [float(x) for x in centers[i % n_clusters] + rng.normal(size=64) * 0.1],
            i % n_clusters,
        )
        for i in range(n_vec)
    ]
    vecs = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).repartition(32).localCheckpoint(eager=True)
    t0 = time.time()
    out = pq_topk(vecs, k=10, n_queries=20).collect()
    t_pq = time.time() - t0
    bad = [r for r in out if r.vec_id % n_clusters != r.query_id % n_clusters]
    print(
        f"PQ {n_vec} vecs: top-10 for 20 queries in {t_pq:.1f}s, "
        f"cross-cluster neighbors: {len(bad)}/{len(out)}"
    )
    assert len(bad) == 0, bad[:5]
    print("OK")


if __name__ == "__main__":
    main()
