"""Scale smoke for ivf_topk's DISTRIBUTED probe assignment (verdict
round-9 item 2): serve a 10^5-query batch against the sf0.1 corpus.

The round-9 form collected the whole query batch to the driver to
argsort centroid distances in numpy; the rewrite embeds the k centroids
as a literal array and picks nprobe buckets map-side, so the query
frame never leaves the executors. This smoke builds a 100k-query batch
(10x replication of the 10k sf0.1 vectors with deterministic noise),
runs the full ivf_topk serve, and reports wall time plus per-query
result-count sanity — the number that must stay flat-ish as the batch
grows is assignment time, not driver memory.

Run:  python scripts/scale_smoke_ivf_probe.py [n_copies]
Default: 10 copies (~100k queries).
"""
from __future__ import annotations

import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from pyspark.sql import functions as F  # noqa: E402

from scala_data_pipeline_spark.ext.ivf import (  # noqa: E402
    assign_buckets,
    fit_ivf,
    ivf_topk,
)
from scala_data_pipeline_spark.session import get_session  # noqa: E402


def main() -> None:
    n_copies = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    spark = get_session(app_name=f"scale-smoke-ivf-probe-{n_copies}x")
    spark.sparkContext.setLogLevel("ERROR")

    base = spark.read.parquet("/root/testdata/sf0.1/embeddings.parquet")
    n_base = base.count()
    model = fit_ivf(base, k=16)
    indexed = assign_buckets(base, model).localCheckpoint(eager=True)

    # 10x query batch: replicate with deterministic per-element noise so
    # every query is a distinct vector (no degenerate identical rows).
    copies = spark.range(n_copies).withColumnRenamed("id", "copy")
    queries = (
        base.crossJoin(copies)
        .select(
            # query ids live past the corpus id range so ivf_topk's
            # vec_id != query_id self-exclusion never bars an unrelated
            # corpus vector from a query's top-k
            (
                F.lit(n_base) * (F.col("copy") + 1) + F.col("vec_id")
            ).alias("vec_id"),
            F.transform(
                F.col("embedding"),
                lambda x: x
                + (
                    F.pmod(
                        F.xxhash64(F.col("vec_id"), F.col("copy"), x),
                        F.lit(1000),
                    ).cast("double")
                    - 500.0
                )
                / 50000.0,
            ).cast("array<float>").alias("embedding"),
        )
        .localCheckpoint(eager=True)
    )
    n_q = queries.count()

    t0 = time.time()
    out = ivf_topk(indexed, model, queries, k=5, nprobe=2)
    n_out = out.count()
    wall = time.time() - t0
    n_served = out.select("query_id").distinct().count()
    print(
        json.dumps(
            {
                "smoke": "ivf_probe_batch",
                "corpus": n_base,
                "queries": n_q,
                "result_rows": n_out,
                "queries_served": n_served,
                "serve_sec": round(wall, 2),
            }
        )
    )
    assert n_served == n_q, "every query must be served"
    assert n_out == n_q * 5, "exactly k rows per query"


if __name__ == "__main__":
    main()
