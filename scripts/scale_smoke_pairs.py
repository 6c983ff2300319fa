"""100x scale smoke for the pair-based dedup chain.

Synthesizes a deliberately DENSE near-dup corpus at 100x the sf0.1
document count (5k docs -> 500k: copy 0 verbatim + 99 tag-prefixed
variants per doc, so every source doc's 100 variants share most
shingles) and runs the full chain the engine advertises as its headline
capability:

    lsh_candidate_pairs -> connected_components -> quality keepers

recording wall-clock, edge counts, cap-engagement counters, and an
exact label-agreement check of connected_components against a driver
union-find (ext/components._solve_small_graph) over the same pairs.
Results go to SCALE_NOTES.md; this script is the reproducible harness.

Run:  python scripts/scale_smoke_pairs.py [n_copies] [sf_dir]
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

from pyspark.sql import DataFrame, functions as F  # noqa: E402

from scala_data_pipeline_spark.ext.components import (  # noqa: E402
    _solve_small_graph,
    connected_components,
)
from scala_data_pipeline_spark.ext.dedup import (  # noqa: E402
    LSH_BUCKET_CAP,
    edit_distance_verify,
    lsh_band_buckets,
    lsh_candidate_pairs,
    minhash_signature,
)
from scala_data_pipeline_spark.ext.textstats import quality_features  # noqa: E402
from scala_data_pipeline_spark.session import get_session  # noqa: E402


def dense_corpus(
    spark,
    sf_dir: str,
    n_copies: int,
    out_dir: str,
    keep_cols: tuple[str, ...] = (),
    prefix_all: bool = False,
) -> DataFrame:
    """5k docs x n_copies: copy 0 verbatim, others 'v{i} '-prefixed —
    variants of one source doc share most shingles (dense clusters).
    Written to parquet with splittable partitioning so the scan
    parallelizes like a real multi-file corpus would.

    ``keep_cols`` carries extra source columns through (e.g. lang for
    a target predicate); ``prefix_all`` tags EVERY copy including copy
    0 — the no-verbatim-duplicate variant the DSIR smoke wants (each
    copy tokenizes fresh; no dedup shortcut applies)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    copies = spark.range(n_copies).withColumnRenamed("id", "copy")
    tagged = F.concat(F.lit("v"), F.col("copy"), F.lit(" "), F.col("text"))
    corpus = (
        docs.crossJoin(F.broadcast(copies))
        .select(
            (F.col("doc_id") * n_copies + F.col("copy")).alias("doc_id"),
            *keep_cols,
            (
                tagged
                if prefix_all
                else F.when(F.col("copy") == 0, F.col("text")).otherwise(
                    tagged
                )
            ).alias("text"),
        )
        .repartition(64)
    )
    corpus.write.mode("overwrite").parquet(out_dir)
    return spark.read.parquet(out_dir)


def timed(label: str, thunk):
    t0 = time.monotonic()
    out = thunk()
    dt = round(time.monotonic() - t0, 1)
    print(f"[smoke] {label}: {dt} s -> {out}", flush=True)
    return dt, out


def main() -> None:
    n_copies = int(sys.argv[1]) if len(sys.argv) > 1 else 100
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
    spark = get_session(app_name=f"scale-smoke-pairs-{n_copies}x")
    spark.sparkContext.setLogLevel("ERROR")
    report: dict = {"n_copies": n_copies, "sf_dir": sf_dir}

    with tempfile.TemporaryDirectory() as tmp:
        t, n_docs = timed(
            "corpus synth",
            lambda: dense_corpus(spark, sf_dir, n_copies, f"{tmp}/corpus").count(),
        )
        report["n_docs"] = n_docs
        corpus = spark.read.parquet(f"{tmp}/corpus")

        # Cap-engagement counter: buckets over the star-overflow cap.
        _, oversized = timed(
            f"oversized buckets (cap {LSH_BUCKET_CAP})",
            lambda: lsh_band_buckets(minhash_signature(corpus))
            .groupBy("band", "bucket")
            .count()
            .filter(F.col("count") > LSH_BUCKET_CAP)
            .count(),
        )
        report["oversized_buckets"] = oversized

        # Pairs are persisted to parquet so each downstream consumer
        # reads the edge list instead of re-running the LSH pipeline —
        # the shape a production dedup run uses (edges are a checkpoint).
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

        # Character-level verify over the full edge list: per-pair cost
        # is the bounded DP (threshold 51 on 200-char prefixes), so this
        # stage is strictly linear in |pairs|.
        report["t_edit"], report["n_edit"] = timed(
            "edit_distance_verify (bounded DP over pairs)",
            lambda: edit_distance_verify(corpus, pairs).count(),
        )

        # Triangle counting rides the same edge list; degree-ordered
        # orientation bounds the wedge join at m^1.5 even with 18k+
        # capped star buckets in the graph.
        from scala_data_pipeline_spark.ext.graph import triangle_counts

        report["t_tri"], report["n_tri_vertices"] = timed(
            "triangle_counts (degree-ordered)",
            lambda: triangle_counts(pairs).count(),
        )

        report["t_prop"], report["n_prop"] = timed(
            "connected_components",
            lambda: connected_components(pairs)
            .write.mode("overwrite")
            .parquet(f"{tmp}/prop")
            or spark.read.parquet(f"{tmp}/prop").count(),
        )
        prop = spark.read.parquet(f"{tmp}/prop")

        # Reference labels: union-find on the driver over the same pairs,
        # whatever their count (the engine takes this path only at or
        # below SMALL_GRAPH_EDGES).
        report["t_ref"], report["n_ref"] = timed(
            "driver union-find (reference)",
            lambda: _solve_small_graph(
                pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
            )
            .write.mode("overwrite")
            .parquet(f"{tmp}/ref")
            or spark.read.parquet(f"{tmp}/ref").count(),
        )
        ref = spark.read.parquet(f"{tmp}/ref")

        # Exact agreement: same (doc_id -> cluster_id) map both ways.
        _, mismatches = timed(
            "label agreement (exceptAll both ways)",
            lambda: prop.exceptAll(ref).count() + ref.exceptAll(prop).count(),
        )
        report["label_mismatches"] = mismatches
        report["n_clusters"] = prop.select("cluster_id").distinct().count()

        # Keepers: best-quality doc per cluster (the dedup_cluster_keepers
        # policy), reusing the persisted components instead of re-deriving.
        from pyspark.sql import Window

        w = Window.partitionBy("cluster_id").orderBy(
            F.col("quality_score").desc(), F.col("doc_id").asc()
        )
        report["t_keepers"], report["n_keepers"] = timed(
            "cluster keepers",
            lambda: prop.join(
                quality_features(corpus).select("doc_id", "quality_score"),
                on="doc_id",
            )
            .withColumn("rnk", F.row_number().over(w))
            .filter(F.col("rnk") == 1)
            .count(),
        )

    print(json.dumps(report), flush=True)


if __name__ == "__main__":
    main()
