"""Scale smoke for the exact prefix-filtered set-similarity join
(ext/setjoin.py::prefix_jaccard_join).

Two questions the smoke answers with numbers:

1. **Does the candidate bound hold as the corpus grows?** Synthesizes
   10x and 100x corpora from sf0.1 documents where each copy's token
   set is perturbed (one unique tag token per copy) so copies of one
   source doc sit just UNDER a 0.95 threshold against each other at
   small sets and cross-source pairs stay far under — candidate volume
   must grow ~linearly with the corpus (prefix buckets stay small
   because every prefix starts with the copy's UNIQUE rarest token),
   not quadratically.
2. **Do both contracts survive at scale?** With the cap disengaged
   the join is EXACT: every identical-token-set family must appear as
   its complete pair clique (recall and precision 1.0 on J=1 pairs).
   Under the default cap an over-cap prefix bucket contributes only
   its keeper's verified pairs — exact family cliques survive only
   when the bucket keeper is a family member (the boilerplate-flood
   case the cap targets; unit-tested). This composite corpus builds
   MIXED over-cap buckets on purpose, so the capped run is recorded
   as a recall MEASUREMENT (split-family count), not an assertion —
   the first 10x run of this smoke caught exactly that distinction
   (planted all-pairs recall fails under the default cap once buckets
   grow 10x), and the operator docstring now states the recall-loss
   semantics precisely.

Run:  python scripts/scale_smoke_setjoin.py [n_copies] [sf_dir] [--capped-only]
Defaults: 10 copies of /root/testdata/sf0.1/documents.parquet.
--capped-only skips the uncapped exactness stage (its output volume is
quadratic in planted family size — prohibitive at 100x) and reports
just the capped path's wall-clock + pair count.
Results recorded in SCALE_NOTES.md.
"""
from __future__ import annotations

import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from pyspark.sql import functions as F  # noqa: E402

from scala_data_pipeline_spark.ext.setjoin import (  # noqa: E402
    prefix_jaccard_join,
    token_sets,
)
from scala_data_pipeline_spark.session import get_session  # noqa: E402


def main() -> None:
    n_copies = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
    capped_only = "--capped-only" in sys.argv
    spark = get_session()

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    n_base = docs.count()

    # Perturbed copies: each non-zero copy gets a UNIQUE tag token, so
    # its token set differs from its source by exactly one element —
    # for the fixture's large token sets that keeps intra-family
    # Jaccard high but the family structurally linear (tag tokens are
    # globally unique → they lead every prefix → no shared buckets
    # beyond the family).
    copies = spark.range(n_copies).withColumnRenamed("id", "copy")
    corpus = (
        docs.crossJoin(F.broadcast(copies))
        .select(
            (F.col("doc_id") * n_copies + F.col("copy")).alias("doc_id"),
            F.when(F.col("copy") == 0, F.col("text"))
            .otherwise(
                F.concat(
                    F.lit("tag"),
                    (F.col("doc_id") * n_copies + F.col("copy")).cast("string"),
                    F.lit(" "),
                    F.col("text"),
                )
            )
            .alias("text"),
        )
        .repartition(64)
        .localCheckpoint()
    )
    n_big = corpus.count()

    t0 = time.time()
    pairs_small = prefix_jaccard_join(docs, t_num=95, t_den=100)
    n_small = pairs_small.count()
    t_small = time.time() - t0

    t0 = time.time()
    pairs_big = prefix_jaccard_join(corpus, t_num=95, t_den=100)
    n_pairs_big = pairs_big.count()
    t_big = time.time() - t0

    if capped_only:
        print(
            json.dumps(
                {
                    "n_copies": n_copies,
                    "big_docs": n_big,
                    "pairs_big_capped": n_pairs_big,
                    "t_small_sec": round(t_small, 2),
                    "t_big_sec": round(t_big, 2),
                    "mode": "capped-only",
                }
            )
        )
        return

    t0 = time.time()
    pairs_exact = prefix_jaccard_join(
        corpus, t_num=95, t_den=100, bucket_cap=1 << 40
    ).localCheckpoint()
    n_pairs_exact = pairs_exact.count()
    t_exact = time.time() - t0

    # Planted-truth exactness on the big corpus: every copy family of
    # an EXACT-duplicate-text source doc (the fixture contains some)
    # differs only by the tag token; for a family of verbatim copy-0
    # docs sharing identical text, the copy-0 rows of that text are
    # mutual J=1.0 pairs and MUST all be found.
    sets = token_sets(corpus)
    dup_sets = (
        sets.withColumn("key", F.concat_ws("\x1f", "tokens"))
        .groupBy("key")
        .agg(F.collect_list("doc_id").alias("ids"), F.count("*").alias("n"))
        .filter(F.col("n") >= 2)
    )
    want_pairs = (
        dup_sets.select(F.explode("ids").alias("a"), "ids")
        .select("a", F.explode("ids").alias("b"))
        .filter(F.col("a") < F.col("b"))
    )
    n_want = want_pairs.count()
    found = pairs_exact.filter(F.col("jaccard") == 1.0).select(
        F.col("doc_a").alias("a"), F.col("doc_b").alias("b")
    )
    n_missing = want_pairs.join(found, on=["a", "b"], how="left_anti").count()
    n_extra_j1 = found.join(want_pairs, on=["a", "b"], how="left_anti").count()

    # Capped-run connectivity: within each planted family every member
    # must be reachable in the capped pair graph. Sufficient check
    # (and the actual keeper-star guarantee): each family stays one
    # connected component.
    from scala_data_pipeline_spark.ext.components import (
        connected_components_star,
    )

    comp = connected_components_star(pairs_big).localCheckpoint()
    fam = dup_sets.select(
        F.monotonically_increasing_id().alias("fam_id"), "ids"
    ).select("fam_id", F.explode("ids").alias("doc_id"))
    n_split_families = (
        fam.join(comp, on="doc_id", how="left")
        # a vertex with no surviving pair is its own singleton island
        .withColumn(
            "cluster_id", F.coalesce("cluster_id", -F.col("doc_id") - 1)
        )
        .groupBy("fam_id")
        .agg(F.countDistinct("cluster_id").alias("n_comp"))
        .filter(F.col("n_comp") > 1)
        .count()
    )
    n_families = dup_sets.count()

    print(
        json.dumps(
            {
                "n_copies": n_copies,
                "base_docs": n_base,
                "big_docs": n_big,
                "pairs_small": n_small,
                "pairs_big_capped": n_pairs_big,
                "pairs_big_exact": n_pairs_exact,
                "t_small_sec": round(t_small, 2),
                "t_big_sec": round(t_big, 2),
                "t_exact_sec": round(t_exact, 2),
                "planted_j1_pairs": n_want,
                "missing_planted_uncapped": n_missing,
                "extra_j1_uncapped": n_extra_j1,
                "capped_split_families": n_split_families,
                "n_planted_families": n_families,
            }
        )
    )
    assert n_missing == 0, "uncapped exact join missed a planted J=1 pair"
    assert n_extra_j1 == 0, "join reported J=1 for a non-identical set"


if __name__ == "__main__":
    main()
