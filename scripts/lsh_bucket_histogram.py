"""LSH bucket-size histogram at a given SF (round-12, verdict item 8).

The dedup pair generators never go all-pairs because oversized
band/bucket groups degrade to keeper stars (``LSH_BUCKET_CAP``, the
default ``bucket_cap`` of ``lsh_candidate_pairs``). Whether that cap
actually BINDS at a scaled SF is the leading indicator for the two
superlinear dedup tails (edit-distance, contrastive triplets): if pair
counts grow faster than the corpus, it shows up here first as
bucket-size mass crossing the cap. This script records the histogram
so the sfx10 artifact carries the evidence, via bench_scale_report's
extras arg.

Run:  python scripts/lsh_bucket_histogram.py [sf_dir] [out.json]
Defaults: /tmp/sfx10, stdout only.
"""
from __future__ import annotations

import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from pyspark.sql import functions as F  # noqa: E402

from scala_data_pipeline_spark.ext.dedup import (  # noqa: E402
    LSH_BUCKET_CAP as CAP,
    lsh_band_buckets,
    minhash_signature,
)
from scala_data_pipeline_spark.session import get_session  # noqa: E402


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/tmp/sfx10"
    out_path = sys.argv[2] if len(sys.argv) > 2 else None
    spark = get_session(app_name="lsh-bucket-histogram")
    spark.sparkContext.setLogLevel("ERROR")

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    sizes = (
        lsh_band_buckets(minhash_signature(docs))
        .groupBy("band", "bucket")
        .agg(F.count(F.lit(1)).alias("sz"))
    )
    # log2 histogram of bucket sizes + cap-binding stats, one pass
    hist_rows = (
        sizes.groupBy(
            F.floor(F.log2("sz")).cast("int").alias("log2_sz")
        )
        .agg(
            F.count(F.lit(1)).alias("n_buckets"),
            F.sum("sz").alias("n_rows"),
        )
        .orderBy("log2_sz")
        .collect()
    )
    stats = sizes.agg(
        F.count(F.lit(1)).alias("n_buckets"),
        F.max("sz").alias("max_sz"),
        F.sum(F.when(F.col("sz") > CAP, 1).otherwise(0)).alias("n_over_cap"),
        F.sum(F.when(F.col("sz") > CAP, F.col("sz"))).alias("rows_over_cap"),
        # pairs the cap AVOIDED: sz*(sz-1)/2 - (sz-1) per oversized bucket
        F.sum(
            F.when(
                F.col("sz") > CAP,
                (F.col("sz") * (F.col("sz") - 1) / 2 - (F.col("sz") - 1))
                .cast("long"),
            )
        ).alias("pairs_avoided"),
    ).collect()[0]

    report = {
        "sf_dir": sf_dir,
        "bucket_cap": CAP,
        "n_buckets": stats.n_buckets,
        "max_bucket_sz": stats.max_sz,
        "n_over_cap": stats.n_over_cap or 0,
        "rows_over_cap": int(stats.rows_over_cap or 0),
        "pairs_avoided_by_cap": int(stats.pairs_avoided or 0),
        "log2_size_histogram": [
            {
                "log2_sz": r.log2_sz,
                "n_buckets": r.n_buckets,
                "n_rows": int(r.n_rows),
            }
            for r in hist_rows
        ],
    }
    line = json.dumps(report)
    print(line)
    if out_path:
        with open(out_path, "w") as f:
            f.write(line + "\n")


if __name__ == "__main__":
    main()
