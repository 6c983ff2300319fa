"""100x scale smoke for the substring-level dedup pair
(duplicated_spans -> excise_duplicated_spans).

Reuses scale_smoke_pairs' dense corpus (5k docs x n_copies; copy 0
verbatim + tag-prefixed variants) — a worst-ish case for span dedup:
every variant family shares its entire source text as one long exact
span, so nearly EVERY k-gram in the corpus is duplicated and the
dup-set join and keeper-election window see their maximum load (no
small-dup-set shortcut can hide).

Records wall-clock, duplicated-position counts, and excision mass.
Results go to SCALE_NOTES.md; this script is the reproducible harness.

Run:  python scripts/scale_smoke_spans.py [n_copies] [sf_dir]
Defaults: 100 copies of /root/testdata/sf0.1/documents.parquet.
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
    duplicated_spans,
    excise_duplicated_spans,
    excise_duplicated_spans_intervals,
)
from scala_data_pipeline_spark.session import get_session  # noqa: E402
from scripts.scale_smoke_pairs import dense_corpus, timed  # noqa: E402


def main() -> None:
    n_copies = int(sys.argv[1]) if len(sys.argv) > 1 else 100
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
    spark = get_session(app_name=f"scale-smoke-spans-{n_copies}x")
    spark.sparkContext.setLogLevel("ERROR")
    report: dict = {"n_copies": n_copies, "sf_dir": sf_dir}

    with tempfile.TemporaryDirectory() as tmp:
        _, n_docs = timed(
            "corpus synth",
            lambda: dense_corpus(spark, sf_dir, n_copies, f"{tmp}/corpus").count(),
        )
        report["n_docs"] = n_docs
        corpus = spark.read.parquet(f"{tmp}/corpus")

        report["t_spans"], (report["n_docs_hit"], report["n_dup_positions"]) = timed(
            "duplicated_spans",
            lambda: (
                duplicated_spans(corpus)
                .write.mode("overwrite")
                .parquet(f"{tmp}/spans"),
                (
                    spark.read.parquet(f"{tmp}/spans").count(),
                    spark.read.parquet(f"{tmp}/spans")
                    .agg(F.sum("n_dup_positions"))
                    .first()[0],
                ),
            )[1],
        )

        report["t_excise"], (report["n_docs_cut"], report["n_tokens_removed"]) = timed(
            "excise_duplicated_spans",
            lambda: (
                excise_duplicated_spans(corpus)
                .write.mode("overwrite")
                .parquet(f"{tmp}/excised"),
                (
                    spark.read.parquet(f"{tmp}/excised")
                    .filter(F.col("n_removed") > 0)
                    .count(),
                    spark.read.parquet(f"{tmp}/excised")
                    .agg(F.sum("n_removed"))
                    .first()[0],
                ),
            )[1],
        )

        # Round-13: the intervals-only cut plan (no reassembled text) —
        # the scale-path output; its time vs the full-text form isolates
        # how much of excise's cost is pure output width.
        report["t_excise_intervals"], report["n_docs_cut_iv"] = timed(
            "excise_duplicated_spans_intervals",
            lambda: (
                excise_duplicated_spans_intervals(corpus)
                .write.mode("overwrite")
                .parquet(f"{tmp}/excised_iv"),
                spark.read.parquet(f"{tmp}/excised_iv").count(),
            )[1],
        )

    print(json.dumps(report), flush=True)


if __name__ == "__main__":
    main()
