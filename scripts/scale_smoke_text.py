"""100x scale smoke for the text-analysis family — the one operator
family without a committed scale artifact. Every op here is designed
scan-bound (lang-id / gopher rules / quality: zero-shuffle codegen
projections) or corpus-stat-bound (tf-idf, bigram LM: bounded
aggregates + broadcast probe), so wall time must scale ~linearly in
corpus size with no hot key and no OOM. The smoke replicates the sf0.1
documents corpus n_copies times (doc_id shifted per copy; text
unchanged — the vocabulary-bounded LM/df tables must NOT grow with the
corpus, which is exactly the property worth proving) and times each op.

Run:  python scripts/scale_smoke_text.py [n_copies]
Default: 100 copies (50,000 docs at sf0.1's 500).
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

from scala_data_pipeline_spark.ext.ranking import retrieval_eval  # noqa: E402
from scala_data_pipeline_spark.ext.textstats import (  # noqa: E402
    bigram_lm_perplexity,
    bm25_scores,
    gopher_quality_rules,
    lang_id,
    tf_idf,
)
from scala_data_pipeline_spark.session import get_session  # noqa: E402
from scala_data_pipeline_spark.sources import load_table  # noqa: E402


def main() -> None:
    n_copies = int(sys.argv[1]) if len(sys.argv) > 1 else 100
    spark = get_session(app_name=f"scale-smoke-text-{n_copies}x")
    spark.sparkContext.setLogLevel("ERROR")
    report: dict = {"n_copies": n_copies}

    with tempfile.TemporaryDirectory() as tmp:
        base = load_table(spark, "/root/testdata/sf0.1", "documents")
        copies = spark.range(n_copies).withColumnRenamed("id", "copy")
        (
            base.crossJoin(F.broadcast(copies))
            .select(
                (F.col("doc_id") * n_copies + F.col("copy")).alias("doc_id"),
                "text",
                "lang",
                "source",
                "n_chars",
            )
            .repartition(64)
            .write.mode("overwrite")
            .parquet(f"{tmp}/docs")
        )
        docs = spark.read.parquet(f"{tmp}/docs")
        report["n_docs"] = docs.count()

        def timed(name, fn):
            t0 = time.monotonic()
            out = fn()
            report[name] = {
                "sec": round(time.monotonic() - t0, 1),
                "rows": out,
            }

        timed("lang_id", lambda: lang_id(docs).count())
        timed("gopher_rules", lambda: gopher_quality_rules(docs).count())
        timed("tf_idf", lambda: tf_idf(docs).count())
        timed(
            "lm_perplexity", lambda: bigram_lm_perplexity(docs).count()
        )
        timed("bm25", lambda: bm25_scores(docs).count())
        timed(
            "retrieval_eval", lambda: retrieval_eval(docs).count()
        )
        # round 7: index build is two uniform-key shuffles; the posting
        # cap keeps hot-term rows bounded, so output rows track the
        # (fixed) vocabulary, not the corpus.
        from scala_data_pipeline_spark.ext.textstats import inverted_index

        timed(
            "inverted_index", lambda: inverted_index(docs).count()
        )

    print(json.dumps(report), flush=True)


if __name__ == "__main__":
    main()
