"""100x scale smoke for the k-core peel (ext/graph.py kcore_vertices).

Reuses scale_smoke_pairs' dense 500k-doc corpus to build the ~700k-edge
LSH pair graph, peels the k-core, and checks the defining invariant at
scale: every surviving vertex has core degree >= k, and the peel
converged within the round budget (it raises otherwise).

Run:  python scripts/scale_smoke_kcore.py [n_copies] [sf_dir]
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

from scala_data_pipeline_spark.ext.dedup import lsh_candidate_pairs  # noqa: E402
from scala_data_pipeline_spark.ext.graph import KCORE_K, kcore_vertices  # noqa: E402
from scala_data_pipeline_spark.session import get_session  # noqa: E402
from scripts.scale_smoke_pairs import dense_corpus  # noqa: E402


def main() -> None:
    n_copies = int(sys.argv[1]) if len(sys.argv) > 1 else 100
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
    spark = get_session("scale-smoke-kcore")
    spark.sparkContext.setLogLevel("ERROR")

    with tempfile.TemporaryDirectory() as tmp:
        corpus = dense_corpus(spark, sf_dir, n_copies, f"{tmp}/corpus")
        n_docs = corpus.count()

        t0 = time.time()
        pairs = lsh_candidate_pairs(corpus).localCheckpoint(eager=True)
        n_edges = pairs.count()
        t_pairs = time.time() - t0

        t0 = time.time()
        core = kcore_vertices(pairs).localCheckpoint(eager=True)
        n_core = core.count()
        min_deg = core.agg(F.min("core_deg")).collect()[0][0]
        t_core = time.time() - t0
        assert min_deg is None or min_deg >= KCORE_K, min_deg

        print(
            json.dumps(
                {
                    "n_copies": n_copies,
                    "n_docs": n_docs,
                    "n_edges": n_edges,
                    "pairs_sec": round(t_pairs, 1),
                    "k": KCORE_K,
                    "core_vertices": n_core,
                    "min_core_deg": min_deg,
                    "kcore_sec": round(t_core, 1),
                }
            )
        )


if __name__ == "__main__":
    main()
