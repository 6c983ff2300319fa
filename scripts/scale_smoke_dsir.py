"""Decade scale smoke for the DSIR pair (round-13 verdict item 6).

curation_dsir_weights / curation_dsir_sample carried the two heaviest
ratios in the 10x artifact (6.53 / 5.5) — by construction the operator
makes two passes (fit the hashed unigram model, then score), and each
pass used to re-scan + re-tokenize + re-hash the corpus. Round 14
restructured ext/dsir.py around a SHARED localCheckpoint'd
(doc_id, bucket, cnt) frame, so the corpus-sized tokenize work runs
once. This smoke runs the pair at two corpus decades (default 10x and
100x of sf0.1 documents) and prints per-decade wall clock plus the
decade-over-decade ratio; a ratio wildly above the corpus growth
factor (10) flags a super-linear shape.

Run:  python scripts/scale_smoke_dsir.py [copies_lo] [copies_hi] [sf_dir]
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

from scala_data_pipeline_spark.ext.dsir import (  # noqa: E402
    dsir_sample,
    dsir_weights,
)
from scala_data_pipeline_spark.session import get_session  # noqa: E402
from scripts.scale_smoke_pairs import dense_corpus, timed  # noqa: E402

# Flag slack over linear: allow 1.3x for fixed costs amortizing
# differently between decades (the span family's precedent). The
# threshold itself derives from the ACTUAL growth factor at runtime —
# a hardcoded 13 would under-flag small decades and over-flag big ones.
FLAG_SLACK = 1.3


def synth_corpus(spark, sf_dir: str, n_copies: int, out_dir: str):
    """n_copies of the sf documents, every copy tag-prefixed (no
    verbatim duplicates — each copy tokenizes fresh, no dedup shortcut)
    with lang preserved so the target predicate keeps its selectivity."""
    return dense_corpus(
        spark,
        sf_dir,
        n_copies,
        out_dir,
        keep_cols=("lang",),
        prefix_all=True,
    )


def run_decade(spark, sf_dir: str, n_copies: int, tmp: str) -> dict:
    corpus = synth_corpus(spark, sf_dir, n_copies, f"{tmp}/corpus{n_copies}")
    n_docs = corpus.count()
    target = F.col("lang") == "en"
    t_w, n_w = timed(
        f"dsir_weights {n_copies}x",
        lambda: dsir_weights(corpus, target)
        .write.mode("overwrite")
        .parquet(f"{tmp}/w{n_copies}")
        or spark.read.parquet(f"{tmp}/w{n_copies}").count(),
    )
    t_s, top = timed(
        f"dsir_sample {n_copies}x",
        lambda: [
            (r.doc_id, r.key)
            for r in dsir_sample(corpus, target, k=5).collect()
        ],
    )
    return {
        "n_copies": n_copies,
        "n_docs": n_docs,
        "t_weights": t_w,
        "n_weights": n_w,
        "t_sample": t_s,
        "top_keys": top,
    }


def main() -> None:
    lo = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    hi = int(sys.argv[2]) if len(sys.argv) > 2 else 100
    sf_dir = sys.argv[3] if len(sys.argv) > 3 else "/root/testdata/sf0.1"
    spark = get_session(app_name=f"scale-smoke-dsir-{lo}-{hi}")
    spark.sparkContext.setLogLevel("ERROR")

    with tempfile.TemporaryDirectory() as tmp:
        a = run_decade(spark, sf_dir, lo, tmp)
        b = run_decade(spark, sf_dir, hi, tmp)

    growth = hi / lo
    report = {
        "sf_dir": sf_dir,
        "decades": [a, b],
        "growth": growth,
        "ratio_weights": round(b["t_weights"] / max(a["t_weights"], 0.1), 2),
        "ratio_sample": round(b["t_sample"] / max(a["t_sample"], 0.1), 2),
    }
    report["flag_threshold"] = round(growth * FLAG_SLACK, 2)
    report["flagged"] = [
        k
        for k in ("ratio_weights", "ratio_sample")
        if report[k] > report["flag_threshold"]
    ]
    print(json.dumps(report), flush=True)


if __name__ == "__main__":
    main()
