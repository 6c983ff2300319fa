"""10x scale smoke for the SRP-LSH KNN self-join, with PLANTED ground
truth: each sf0.1 vector is replicated n_copies times with small
deterministic per-element noise, so every copy's true nearest
neighbors are its siblings (cosine ~= 0.999 within a family vs ~= 0.3
background). Measures wall time, candidate volume, and planted-sibling
recall@k under a band width scaled up per the log(n) rule the operator
documents (band_bits 4 -> 8 at 10x).

Run:  python scripts/scale_smoke_knn.py [n_copies] [band_bits]
Defaults: 10 copies of /root/testdata/sf0.1/embeddings.parquet, 8-bit
bands (48 planes = 6 bands).
"""
from __future__ import annotations

import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from pyspark.sql import functions as F  # noqa: E402

from scala_data_pipeline_spark.ext.similarity import (  # noqa: E402
    KNN_BUCKET_CAP,
    knn_join,
    srp_index,
    srp_memberships,
)
from scala_data_pipeline_spark.session import get_session  # noqa: E402


def main() -> None:
    n_copies = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    band_bits = int(sys.argv[2]) if len(sys.argv) > 2 else 8
    n_planes = 6 * band_bits
    spark = get_session(app_name=f"scale-smoke-knn-{n_copies}x")
    spark.sparkContext.setLogLevel("ERROR")

    base = spark.read.parquet("/root/testdata/sf0.1/embeddings.parquet")
    copies = spark.range(n_copies).withColumnRenamed("id", "copy")
    # Deterministic per-element jitter (hash-derived, ~1e-3 scale):
    # small enough that siblings stay each other's nearest, large
    # enough that SRP bits near a hyperplane can flip (non-trivial LSH).
    corpus = (
        base.crossJoin(F.broadcast(copies))
        .select(
            (F.col("vec_id") * n_copies + F.col("copy")).alias("vec_id"),
            F.transform(
                F.col("embedding"),
                lambda x, i: x
                + (
                    F.xxhash64(
                        F.concat_ws("_", F.col("vec_id"), F.col("copy"), i)
                    )
                    % 997
                ).cast("double")
                / 499000.0,
            ).alias("embedding"),
        )
        .repartition(64)
    )
    n_vecs = corpus.count()

    # Cap-engagement counters through the production code path: bucket
    # sizes from the same srp_index/srp_memberships frames knn_join
    # aggregates (the r6 bucket-cap backstop degrades buckets > cap to
    # keeper stars).
    keyed = srp_index(corpus, n_planes=n_planes, band_bits=band_bits)
    sizes = (
        srp_memberships(keyed, n_planes // band_bits)
        .groupBy("band", "bk")
        .count()
    )
    caps = sizes.agg(
        F.sum(F.when(F.col("count") > KNN_BUCKET_CAP, 1).otherwise(0)).alias(
            "oversized"
        ),
        F.max("count").alias("max_bucket"),
        F.count(F.lit(1)).alias("n_buckets"),
    ).collect()[0]
    keyed.unpersist()

    t0 = time.monotonic()
    knn = knn_join(corpus, k=5, n_planes=n_planes, band_bits=band_bits)
    rows = knn.collect()
    dt = round(time.monotonic() - t0, 1)

    sibling_hits = sum(
        1
        for r in rows
        if r["nbr_id"] // n_copies == r["vec_id"] // n_copies
    )
    covered = len({r["vec_id"] for r in rows})
    report = {
        "n_vecs": n_vecs,
        "band_bits": band_bits,
        "n_planes": n_planes,
        "bucket_cap": KNN_BUCKET_CAP,
        "oversized_buckets": int(caps["oversized"]),
        "max_bucket": int(caps["max_bucket"]),
        "n_buckets": int(caps["n_buckets"]),
        "t_knn_sec": dt,
        "result_rows": len(rows),
        "vectors_with_neighbors": covered,
        "sibling_recall_at_5": round(sibling_hits / max(len(rows), 1), 4),
    }
    print(json.dumps(report), flush=True)


if __name__ == "__main__":
    main()
