"""Similarity-search extension queries with DuckDB oracles."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..ext.similarity import (
    embedding_neardup_pairs,
    embedding_neardup_sql,
    knn_join,
    knn_join_sql,
    mmr_rerank,
    semantic_dedup_keepers,
    semantic_dedup_keepers_sql,
    topk_bruteforce,
    topk_bruteforce_sql,
    topk_ivf,
    topk_ivf_sql,
)
from ..session import hub
from ..sources import load_table

N_QUERIES = 5


def sim_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return topk_bruteforce(emb, emb.filter(F.col("vec_id") < N_QUERIES), k=5)


def sim_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return topk_ivf(emb, emb.filter(F.col("vec_id") < N_QUERIES), k=3)


def sim_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return embedding_neardup_pairs(load_table(spark, sf_dir, "embeddings"))


# Round-6 rotation: sim_topk_bruteforce (green r1-r4) demoted — the
# ANN family keeps driver rows via sim_topk_ivf and sim_knn_join, and
# the brute-force baseline is still the recall oracle inside
# sim_knn_recall_eval. Slot freed for a never-checked SQL shape.
# Round-7 rotation: sim_embedding_neardup (green r2-r4) demoted —
# near-dup machinery keeps driver rows via sim_semantic_keepers'
# bucketed-cosine core inside dedup flows and sim_knn_join/sim_topk_ivf
# for the ANN side; still oracle-checked locally.
# Round-7 driver rotation: sim_topk_ivf (green r1-r6, the longest-
# tenured similarity row) demoted to an extra — the ANN family keeps
# its driver row via sim_knn_join, and IVF stays oracle-checked
# locally; its slot goes to the never-checked running_distinct_users
# (tsstats).
QUERIES: dict = {}

ORACLES: dict = {}


def sim_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..ext.similarity import quantize_embeddings

    q = quantize_embeddings(load_table(spark, sf_dir, "embeddings"))
    return q.select("vec_id", F.array_join("qvec", ",").alias("qvec"))


def _quantize_oracle() -> str:
    from ..ext.similarity import quantize_embeddings_sql

    return quantize_embeddings_sql()


def sim_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SRP-LSH KNN self-join: top-5 neighbors for every vector."""
    return knn_join(load_table(spark, sf_dir, "embeddings"), k=5)


def sim_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR diversified re-rank of each query's top-25 candidates.

    No DuckDB oracle: greedy MMR is a sequential per-group algorithm
    (the applyInPandas case) — rows-only at the driver;
    tests/test_skew_ivf.py re-derives the selection with a pure-Python
    reference and asserts exact equality."""
    emb = load_table(spark, sf_dir, "embeddings")
    return mmr_rerank(emb, emb.filter(F.col("vec_id") < N_QUERIES))


EXTRA_QUERIES = {
    "sim_quantize": sim_quantize,
    "sim_mmr_rerank": sim_mmr_rerank,
    "sim_topk_bruteforce": sim_topk_bruteforce,
    "sim_embedding_neardup": sim_embedding_neardup,
    "sim_topk_ivf": sim_topk_ivf,
}
EXTRA_ORACLES = {
    "sim_quantize": _quantize_oracle(),
    "sim_topk_bruteforce": topk_bruteforce_sql(k=5, n_queries=N_QUERIES),
    "sim_embedding_neardup": embedding_neardup_sql(),
    "sim_topk_ivf": topk_ivf_sql(k=3, n_queries=N_QUERIES),
}

# Round-6 rotation: sim_knn_join promoted to a driver slot (round-5
# SRP-LSH KNN self-join, never driver-checked).
# Round-10 rotation: demoted after 4 green driver rounds (r6-r9) —
# slot funds a never-driver-checked promotion; still oracle-checked by
# tests/test_oracle_parity.py.
EXTRA_QUERIES["sim_knn_join"] = sim_knn_join
EXTRA_ORACLES["sim_knn_join"] = knn_join_sql(k=5)


def sim_topk_quantized(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..ext.similarity import topk_quantized

    return topk_quantized(load_table(spark, sf_dir, "embeddings"))


def _topk_quantized_oracle() -> str:
    from ..ext.similarity import topk_quantized_sql

    return topk_quantized_sql()


# Round-19 rotation: promoted (never driver-checked).
QUERIES["sim_topk_quantized"] = sim_topk_quantized
ORACLES["sim_topk_quantized"] = _topk_quantized_oracle()


def sim_semantic_keepers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup loop closed: embedding near-dup pairs → components →
    best-norm keeper per semantic cluster."""
    return semantic_dedup_keepers(load_table(spark, sf_dir, "embeddings"))


# Round-18 rotation: promoted (never driver-checked; the LSH-pairs ->
# components -> keeper formulation of semantic dedup).
QUERIES["sim_semantic_keepers"] = sim_semantic_keepers
ORACLES["sim_semantic_keepers"] = semantic_dedup_keepers_sql()


def sim_topk_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ADC top-k (rows-only: k-means training is
    iterative driver-side math with no SQL twin; recall-vs-bruteforce
    correctness lives in tests/test_pq.py, and this registry entry's
    recall over the real testdata embeddings is bounded vs exact
    cosine in tests/test_rows_only_bounds.py)."""
    from ..ext.pq import pq_topk

    return pq_topk(load_table(spark, sf_dir, "embeddings"))


EXTRA_QUERIES["sim_topk_pq"] = sim_topk_pq


def sim_topk_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FAISS-style IVF-PQ: coarse KMeans pruning + PQ ADC rescoring
    (rows-only; recall tested vs brute force in tests/test_pq.py and
    bounded on the registry entry in tests/test_rows_only_bounds.py)."""
    from ..ext.pq import ivfpq_topk

    return ivfpq_topk(load_table(spark, sf_dir, "embeddings"))


EXTRA_QUERIES["sim_topk_ivfpq"] = sim_topk_ivfpq


def sim_knn_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN parameter audit: recall@5 of the SRP-LSH KNN join vs exact
    brute force over a 50-query sample, with a composed exact oracle."""
    from ..ext.similarity import knn_recall_eval

    return knn_recall_eval(load_table(spark, sf_dir, "embeddings"))


def _knn_recall_oracle() -> str:
    from ..ext.similarity import knn_recall_eval_sql

    return knn_recall_eval_sql()


# Round-17 rotation: promoted (never driver-checked; the ANN recall@k
# audit — the quality-eval row for the similarity family).
QUERIES["sim_knn_recall_eval"] = sim_knn_recall_eval
ORACLES["sim_knn_recall_eval"] = _knn_recall_oracle()


def sim_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid-retrieval fusion: RRF over the exact-float and
    int8-quantized ANN rankings for the same query set (the production
    shape is BM25 + dense retrieval; the combiner is identical)."""
    from ..ext.similarity import rrf_fuse, topk_quantized

    emb = load_table(spark, sf_dir, "embeddings")
    exact = topk_bruteforce(emb, emb.filter(F.col("vec_id") < N_QUERIES), k=5)
    quant = topk_quantized(emb, n_queries=N_QUERIES, k=5)
    return rrf_fuse(
        [
            exact.select("query_id", "vec_id", "rank"),
            quant.select("query_id", "vec_id", "rank"),
        ]
    )


def _rrf_oracle() -> str:
    from ..ext.similarity import rrf_fuse_sql, topk_quantized_sql

    return rrf_fuse_sql(
        [
            topk_bruteforce_sql(k=5, n_queries=N_QUERIES),
            topk_quantized_sql(n_queries=N_QUERIES, k=5),
        ]
    )


# Round-16 rotation: promoted to a driver slot (never driver-checked).
QUERIES["sim_rrf_fusion"] = sim_rrf_fusion
ORACLES["sim_rrf_fusion"] = _rrf_oracle()


def embedding_class_separation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space health audit (round 9): per-label centroids and
    all pairwise centroid cosines — the class-separation matrix a
    curation pipeline watches when embeddings feed dedup or retrieval
    (collapsing centroids = labels the embedding can't separate).
    Shape: ONE corpus pass explodes vectors to the (label, dim) grain
    (10 x 64 rows), everything after runs on bounded frames. Float
    means and dot products follow the decimal-exactness convention
    (per-term round-8 + exact decimal sums), so the DuckDB twin
    hash-matches."""
    emb = load_table(spark, sf_dir, "embeddings")
    vals = emb.select(
        "label", F.posexplode("embedding").alias("dim", "v")
    ).select("label", "dim", F.col("v").cast("double").alias("v"))
    centroids = vals.groupBy("label", "dim").agg(
        (
            F.sum(F.round("v", 8).cast("decimal(18,8)")).cast("double")
            / F.count(F.lit(1))
        ).alias("c")
    )
    norms = centroids.groupBy("label").agg(
        F.sqrt(
            F.sum(
                F.round(F.col("c") * F.col("c"), 8).cast("decimal(18,8)")
            ).cast("double")
        ).alias("norm")
    )
    a = centroids.select(
        F.col("label").alias("label_a"), "dim", F.col("c").alias("ca")
    )
    b = centroids.select(
        F.col("label").alias("label_b"), "dim", F.col("c").alias("cb")
    )
    dots = (
        a.join(b, on="dim")
        .filter(F.col("label_a") < F.col("label_b"))
        .groupBy("label_a", "label_b")
        .agg(
            F.sum(
                F.round(F.col("ca") * F.col("cb"), 8).cast(
                    "decimal(18,8)"
                )
            ).cast("double").alias("dot")
        )
    )
    na = norms.select(
        F.col("label").alias("label_a"), F.col("norm").alias("norm_a")
    )
    nb = norms.select(
        F.col("label").alias("label_b"), F.col("norm").alias("norm_b")
    )
    return (
        dots.join(F.broadcast(na), on="label_a")
        .join(F.broadcast(nb), on="label_b")
        .select(
            "label_a",
            "label_b",
            F.round(
                F.col("dot") / (F.col("norm_a") * F.col("norm_b")), 6
            ).alias("centroid_cosine"),
        )
    )


CLASS_SEPARATION_ORACLE = """
WITH vals AS (
  SELECT label, i - 1 AS dim, CAST(embedding[i] AS DOUBLE) AS v
  FROM embeddings, range(1, 65) t(i)
), centroids AS (
  SELECT label, dim,
         CAST(SUM(CAST(ROUND(v, 8) AS DECIMAL(18,8))) AS DOUBLE)
           / COUNT(*) AS c
  FROM vals GROUP BY 1, 2
), norms AS (
  SELECT label,
         sqrt(CAST(SUM(CAST(ROUND(c * c, 8) AS DECIMAL(18,8)))
              AS DOUBLE)) AS norm
  FROM centroids GROUP BY 1
), dots AS (
  SELECT a.label AS label_a, b.label AS label_b,
         CAST(SUM(CAST(ROUND(a.c * b.c, 8) AS DECIMAL(18,8)))
              AS DOUBLE) AS dot
  FROM centroids a JOIN centroids b
    ON a.dim = b.dim AND a.label < b.label
  GROUP BY 1, 2
)
SELECT label_a, label_b,
       ROUND(dot / (na.norm * nb.norm), 6) AS centroid_cosine
FROM dots
JOIN norms na ON na.label = label_a
JOIN norms nb ON nb.label = label_b
"""

EXTRA_QUERIES["embedding_class_separation"] = embedding_class_separation
EXTRA_ORACLES["embedding_class_separation"] = CLASS_SEPARATION_ORACLE


def embedding_silhouette(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Silhouette-style cluster audit per label (round 9): mean member
    cosine to the OWN centroid (cohesion) vs the max cosine the
    centroid has to any OTHER centroid (separation), and the margin —
    the one-row-per-label readout of whether the labeled structure in
    embedding space is real. One corpus pass to the (label, dim) grain
    for centroids, one map-side broadcast join of members against the
    640-row centroid table for the cohesion dots; every float sum
    rides the round-8 decimal convention."""
    emb = load_table(spark, sf_dir, "embeddings")
    vals = emb.select(
        "vec_id", "label", F.posexplode("embedding").alias("dim", "v")
    ).select(
        "vec_id", "label", "dim", F.col("v").cast("double").alias("v")
    )
    centroids = vals.groupBy("label", "dim").agg(
        (
            F.sum(F.round("v", 8).cast("decimal(18,8)")).cast("double")
            / F.count(F.lit(1))
        ).alias("c")
    )
    cnorms = centroids.groupBy("label").agg(
        F.sqrt(
            F.sum(
                F.round(F.col("c") * F.col("c"), 8).cast("decimal(18,8)")
            ).cast("double")
        ).alias("cnorm")
    )
    member = (
        vals.join(F.broadcast(centroids), on=["label", "dim"])
        .groupBy("vec_id", "label")
        .agg(
            F.sum(
                F.round(F.col("v") * F.col("c"), 8).cast("decimal(18,8)")
            ).cast("double").alias("dot"),
            F.sqrt(
                F.sum(
                    F.round(F.col("v") * F.col("v"), 8).cast(
                        "decimal(18,8)"
                    )
                ).cast("double")
            ).alias("vnorm"),
        )
        .join(F.broadcast(cnorms), on="label")
        .select(
            "label",
            (
                F.col("dot") / (F.col("vnorm") * F.col("cnorm"))
            ).alias("cos_i"),
        )
    )
    cohesion = member.groupBy("label").agg(
        F.count(F.lit(1)).cast("long").alias("n_members"),
        (
            F.sum(F.round("cos_i", 8).cast("decimal(18,8)")).cast(
                "double"
            )
            / F.count(F.lit(1))
        ).alias("mean_intra"),
    )
    a = centroids.select(
        F.col("label").alias("la"), "dim", F.col("c").alias("ca")
    )
    b = centroids.select(
        F.col("label").alias("lb"), "dim", F.col("c").alias("cb")
    )
    inter = (
        a.join(b, on="dim")
        .filter(F.col("la") != F.col("lb"))
        .groupBy("la", "lb")
        .agg(
            F.sum(
                F.round(F.col("ca") * F.col("cb"), 8).cast(
                    "decimal(18,8)"
                )
            ).cast("double").alias("dot")
        )
        .join(
            F.broadcast(cnorms.select(F.col("label").alias("la"),
                                      F.col("cnorm").alias("na"))),
            on="la",
        )
        .join(
            F.broadcast(cnorms.select(F.col("label").alias("lb"),
                                      F.col("cnorm").alias("nb"))),
            on="lb",
        )
        .groupBy(F.col("la").alias("label"))
        .agg(
            F.max(
                F.col("dot") / (F.col("na") * F.col("nb"))
            ).alias("max_other")
        )
    )
    return cohesion.join(inter, on="label").select(
        "label",
        "n_members",
        F.round("mean_intra", 6).alias("mean_intra_cosine"),
        F.round("max_other", 6).alias("max_other_centroid_cosine"),
        F.round(
            F.col("mean_intra") - F.col("max_other"), 6
        ).alias("margin"),
    )


SILHOUETTE_ORACLE = """
WITH vals AS (
  SELECT vec_id, label, i - 1 AS dim, CAST(embedding[i] AS DOUBLE) AS v
  FROM embeddings, range(1, 65) t(i)
), centroids AS (
  SELECT label, dim,
         CAST(SUM(CAST(ROUND(v, 8) AS DECIMAL(18,8))) AS DOUBLE)
           / COUNT(*) AS c
  FROM vals GROUP BY 1, 2
), cnorms AS (
  SELECT label,
         sqrt(CAST(SUM(CAST(ROUND(c * c, 8) AS DECIMAL(18,8)))
              AS DOUBLE)) AS cnorm
  FROM centroids GROUP BY 1
), member AS (
  SELECT m.vec_id, m.label,
         CAST(SUM(CAST(ROUND(m.v * c.c, 8) AS DECIMAL(18,8)))
              AS DOUBLE) AS dot,
         sqrt(CAST(SUM(CAST(ROUND(m.v * m.v, 8) AS DECIMAL(18,8)))
              AS DOUBLE)) AS vnorm
  FROM vals m JOIN centroids c ON c.label = m.label AND c.dim = m.dim
  GROUP BY 1, 2
), cohesion AS (
  SELECT mm.label, CAST(COUNT(*) AS BIGINT) AS n_members,
         CAST(SUM(CAST(ROUND(mm.dot / (mm.vnorm * cn.cnorm), 8)
              AS DECIMAL(18,8))) AS DOUBLE) / COUNT(*) AS mean_intra
  FROM member mm JOIN cnorms cn ON cn.label = mm.label
  GROUP BY 1
), inter AS (
  SELECT la AS label, MAX(dot / (na * nb)) AS max_other
  FROM (
    SELECT a.label AS la, b.label AS lb,
           CAST(SUM(CAST(ROUND(a.c * b.c, 8) AS DECIMAL(18,8)))
                AS DOUBLE) AS dot
    FROM centroids a JOIN centroids b
      ON a.dim = b.dim AND a.label <> b.label
    GROUP BY 1, 2
  ) d
  JOIN cnorms x ON x.label = d.la
  JOIN cnorms y ON y.label = d.lb
  CROSS JOIN LATERAL (SELECT x.cnorm AS na, y.cnorm AS nb) z
  GROUP BY 1
)
SELECT c.label, c.n_members,
       ROUND(c.mean_intra, 6) AS mean_intra_cosine,
       ROUND(i.max_other, 6) AS max_other_centroid_cosine,
       ROUND(c.mean_intra - i.max_other, 6) AS margin
FROM cohesion c JOIN inter i ON i.label = c.label
"""

# Round-10 rotation: promoted to a driver slot (never driver-checked).
# Round-16 rotation: demoted after 5 green driver rounds (r11-r15) —
# still oracle-checked locally by tests/test_oracle_parity.py.
EXTRA_QUERIES["embedding_silhouette"] = embedding_silhouette
EXTRA_ORACLES["embedding_silhouette"] = SILHOUETTE_ORACLE


def sim_semdedup_greedy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Paper-faithful SemDeDup (Abbas et al. 2023): K-means clusters +
    within-cluster greedy prune in (centroid_sim asc, vec_id) rank
    order — the cluster-sharded form that scales to web corpora.
    Complements `sim_semantic_keepers` (the LSH-pairs → components →
    keeper formulation): same goal, the two published mechanisms.
    Rows-only: K-means + the greedy kept-set are iterative (no SQL
    twin); invariants + a k=1 pure-greedy parity anchor live in
    tests/test_semdedup.py."""
    from ..ext.semdedup import semantic_dedup

    return semantic_dedup(load_table(spark, sf_dir, "embeddings"), k=8)


EXTRA_QUERIES["sim_semdedup_greedy"] = sim_semdedup_greedy


def sim_semdedup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cluster SemDeDup summary (size, kept, drop ratio) — the
    dataset-curation report a 100 TB dedup run is judged by.
    Rows-only (derives from the iterative greedy result)."""
    from ..ext.semdedup import semantic_dedup, semantic_dedup_stats

    return semantic_dedup_stats(
        semantic_dedup(load_table(spark, sf_dir, "embeddings"), k=8)
    )


EXTRA_QUERIES["sim_semdedup_stats"] = sim_semdedup_stats


_SEMDEDUP_EPS = 0.62  # fixture-calibrated: max pairwise cosine in the
# synthetic embeddings is ~0.51, so the published 1-eps=0.95 would be a
# trivially keep-everything run; 1-eps=0.38 makes the greedy actually
# elect keepers and record dup_of/dup_sim (85 drops at sf0.01).


# The k=1 exact-greedy frame is shared by sim_semdedup_k1 (the
# per-vector decisions) and sim_semdedup_report (their one-row
# summary): a session hub, like _lsh_pairs / _pair_core in
# queries/ext_dedup.py, so a registry sweep pays the greedy once.
def _k1_decisions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..ext.semdedup import semantic_dedup_k1_exact

    return hub(
        spark,
        "k1_decisions",
        sf_dir,
        lambda: semantic_dedup_k1_exact(
            load_table(spark, sf_dir, "embeddings"), eps=_SEMDEDUP_EPS
        ),
    )


def sim_semdedup_k1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-checked SemDeDup (round-13 verdict item 6): the k=1
    oracle-exact greedy — decimal-exact centroid, fold-order dots, 6dp
    rounding, earliest-kept ties — against a DuckDB RECURSIVE-CTE twin
    that replays the same greedy bit-exactly. Per-vector decisions
    (vec_id, centroid_sim, keep, dup_of, dup_sim)."""
    return _k1_decisions(spark, sf_dir)


def _semdedup_k1_oracle() -> str:
    from ..ext.semdedup import semantic_dedup_k1_sql

    return semantic_dedup_k1_sql(eps=_SEMDEDUP_EPS)


def sim_semdedup_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level SemDeDup report over the oracle-exact k=1 run:
    totals, drop ratio, and the similarity band of the drops — the
    one-row summary a curation run is signed off on. Reads the
    memoized k=1 decision frame (see _k1_decisions)."""
    d = _k1_decisions(spark, sf_dir)
    return d.agg(
        F.count(F.lit(1)).cast("long").alias("n_vectors"),
        F.sum(F.when(F.col("keep"), 1).otherwise(0))
        .cast("long")
        .alias("n_kept"),
        F.sum(F.when(~F.col("keep"), 1).otherwise(0))
        .cast("long")
        .alias("n_dropped"),
        F.max("dup_sim").alias("max_dup_sim"),
        F.min("dup_sim").alias("min_dup_sim"),
    )


def _semdedup_report_oracle() -> str:
    from ..ext.semdedup import semantic_dedup_k1_sql

    return f"""
SELECT CAST(COUNT(*) AS BIGINT) AS n_vectors,
       CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       CAST(SUM(CASE WHEN keep THEN 0 ELSE 1 END) AS BIGINT) AS n_dropped,
       MAX(dup_sim) AS max_dup_sim,
       MIN(dup_sim) AS min_dup_sim
FROM ({semantic_dedup_k1_sql(eps=_SEMDEDUP_EPS)})
"""


# Round-14 rotation: both promoted to driver slots (never
# driver-checked; the recursive-CTE greedy twin is the hardest oracle
# in the similarity family and its zero-norm guard changed this
# round) in place of the demoted graph_kcore / feature_point_in_time.
# Round-19 demotion (green r14-r18).
EXTRA_QUERIES["sim_semdedup_k1"] = sim_semdedup_k1
EXTRA_ORACLES["sim_semdedup_k1"] = _semdedup_k1_oracle()
EXTRA_QUERIES["sim_semdedup_report"] = sim_semdedup_report
EXTRA_ORACLES["sim_semdedup_report"] = _semdedup_report_oracle()


BOUNDS = {
    "sim_semdedup_greedy": (
        "tests/test_rows_only_bounds.py::test_semdedup_greedy_k1_matches_hash_checked_oracle_path"
        " — k=1 decisions equal the hash-checked semantic_dedup_k1_exact"
    ),
    "sim_semdedup_stats": (
        "tests/test_rows_only_bounds.py::test_semdedup_stats_consistent_with_greedy"
        " — per-cluster stats consistent with the greedy keep/dup sets"
    ),
    "sim_topk_pq": (
        "tests/test_rows_only_bounds.py::test_sim_topk_pq_recall_vs_exact"
        " — recall@5 floor vs exact numpy brute-force cosine"
    ),
    "sim_topk_ivfpq": (
        "tests/test_rows_only_bounds.py::test_sim_topk_ivfpq_recall_vs_exact"
        " — recall@5 floor vs exact numpy brute-force cosine"
    ),
    "sim_mmr_rerank": (
        "tests/test_skew_ivf.py::test_mmr_relevance_diversity_dominance"
        " — exact pure-Python replay + diversity dominance vs pure-relevance top-k"
    ),
}
