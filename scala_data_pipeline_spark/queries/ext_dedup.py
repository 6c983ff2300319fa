"""Dedup extension queries with DuckDB oracles."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..ext.dedup import (
    block_pair_intersections,
    containment_from_intersections,
    duplicated_spans,
    duplicated_spans_sql,
    exact_dedup_groups,
    excise_duplicated_spans,
    excise_duplicated_spans_sql,
    hot_ngram_flags,
    hot_ngram_flags_sql,
    jaccard_from_intersections,
    lsh_candidate_pairs,
    lsh_quality_metrics,
    lsh_quality_metrics_sql,
    minhash_lsh_sql,
    ngram_containment_sql,
    ngram_jaccard_sql,
    segment_dedup,
    segment_dedup_sql,
    simhash16,
    simhash16_sql,
    simhash_neardup_pairs,
    simhash_neardup_sql,
)
from ..session import hub
from ..sources import load_table

# dedup_ngram_jaccard and dedup_containment are two scorings of the SAME
# per-block shingle-intersection frame; a registry sweep (bench, the
# driver, the parity suite) runs both. The session hub materializes the
# core once, so the second query pays only its scoring filter. The
# checkpointed frame is one row per candidate pair (df-capped, so
# pair-bounded, far smaller than the corpus).
def _pair_core(spark: SparkSession, sf_dir: str) -> DataFrame:
    return hub(
        spark,
        "pair_core",
        sf_dir,
        lambda: block_pair_intersections(
            load_table(spark, sf_dir, "documents"), 64
        ),
    )


# The MinHash-LSH candidate-pair frame is the hub of the whole dedup /
# graph family: seven driver-slot queries (the pair list itself,
# components, cluster keepers, pagerank, triangles, edit-distance
# verify, cluster split) plus three extras all start from the IDENTICAL
# lsh_candidate_pairs(documents) frame. Materialize it once per session
# and sf dir — the exact shape the 1000x smoke already uses
# (scripts/scale_smoke_pairs.py persists pairs to parquet so "each
# downstream consumer reads the edge list instead of re-running the LSH
# pipeline"), and what any production dedup run does between candidate
# generation and verification. The frame is the pair LIST (capped,
# therefore corpus-pair-bounded), far smaller than the corpus.
def _lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return hub(
        spark,
        "lsh_pairs",
        sf_dir,
        lambda: lsh_candidate_pairs(load_table(spark, sf_dir, "documents")),
    )


def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return exact_dedup_groups(load_table(spark, sf_dir, "documents"))


DEDUP_EXACT_ORACLE = """
SELECT md5(text) AS digest,
       MIN(doc_id) AS keeper_id,
       COUNT(*) AS n_copies
FROM documents
GROUP BY 1
"""


def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _lsh_pairs(spark, sf_dir)


def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return simhash16(load_table(spark, sf_dir, "documents"))


def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    return jaccard_from_intersections(_pair_core(spark, sf_dir))


QUERIES = {}

ORACLES = {}


def dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return simhash_neardup_pairs(load_table(spark, sf_dir, "documents"))


def dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH candidate pairs → transitive dedup clusters
    (ext/components.connected_components; recursive-CTE oracle)."""
    from ..ext.components import connected_components

    return connected_components(_lsh_pairs(spark, sf_dir))


def _components_oracle() -> str:
    from ..ext.components import connected_components_sql

    return connected_components_sql(minhash_lsh_sql())


def dedup_components_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The driver-facing row of the LSH clustering: the same
    connected_components call as dedup_components (an extra), and the
    same recursive-CTE oracle."""
    from ..ext.components import connected_components

    return connected_components(_lsh_pairs(spark, sf_dir))


def dedup_lsh_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Precision/recall of the LSH candidate generator vs exact
    Jaccard. Candidates come from the session-memoized _lsh_pairs hub:
    the audit consumes the SAME pair frame the dedup family
    serves, instead of rebuilding the candidate pipeline per call."""
    return lsh_quality_metrics(
        load_table(spark, sf_dir, "documents"),
        candidates=_lsh_pairs(spark, sf_dir),
        pair_core=_pair_core(spark, sf_dir),
    )


def dedup_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style paragraph dedup over fixed token segments."""
    return segment_dedup(load_table(spark, sf_dir, "documents"))


def dedup_hot_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-frequency boilerplate flags (Lee et al.-style repeated
    n-gram signal)."""
    return hot_ngram_flags(load_table(spark, sf_dir, "documents"))


def dedup_common_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document repeated k-token spans (ExactSubstr-style,
    Lee et al. 2021) with merged-interval per-doc coverage."""
    return duplicated_spans(load_table(spark, sf_dir, "documents"))


def dedup_span_excise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr cut: first occurrence keeps each duplicated span,
    every other occurrence is excised and docs are reassembled."""
    return excise_duplicated_spans(load_table(spark, sf_dir, "documents"))


def dedup_span_excise_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale-path ExactSubstr cut plan: per-doc cut intervals + token
    arithmetic, never the reassembled text (the full-text form's 10x
    cost is pure output width)."""
    from ..ext.dedup import excise_duplicated_spans_intervals

    return excise_duplicated_spans_intervals(
        load_table(spark, sf_dir, "documents")
    )


def _span_excise_intervals_oracle() -> str:
    from ..ext.dedup import excise_duplicated_spans_intervals_sql

    return excise_duplicated_spans_intervals_sql()


def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric overlap: pairs where either doc's shingle set is
    >=50% contained in the other (subset/quote detection)."""
    return containment_from_intersections(_pair_core(spark, sf_dir))


QUERIES["dedup_lsh_quality"] = dedup_lsh_quality
ORACLES["dedup_lsh_quality"] = lsh_quality_metrics_sql()

EXTRA_QUERIES = {
    "dedup_common_spans": dedup_common_spans,
    "dedup_span_excise": dedup_span_excise,
    "dedup_span_excise_intervals": dedup_span_excise_intervals,
    "dedup_exact": dedup_exact,
    "dedup_containment": dedup_containment,
    "dedup_minhash_lsh": dedup_minhash_lsh,
    "dedup_ngram_jaccard": dedup_ngram_jaccard,
    "dedup_components": dedup_components,
    "dedup_segments": dedup_segments,
}
QUERIES["dedup_hot_ngrams"] = dedup_hot_ngrams
ORACLES["dedup_hot_ngrams"] = hot_ngram_flags_sql()
QUERIES["dedup_components_star"] = dedup_components_star
ORACLES["dedup_components_star"] = _components_oracle()

EXTRA_ORACLES = {
    "dedup_common_spans": duplicated_spans_sql(),
    "dedup_span_excise": excise_duplicated_spans_sql(),
    "dedup_span_excise_intervals": _span_excise_intervals_oracle(),
    "dedup_exact": DEDUP_EXACT_ORACLE,
    "dedup_containment": ngram_containment_sql(),
    "dedup_minhash_lsh": minhash_lsh_sql(),
    "dedup_ngram_jaccard": ngram_jaccard_sql(),
    "dedup_components": _components_oracle(),
    "dedup_segments": segment_dedup_sql(),
}


def dedup_cluster_keepers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup loop closed: candidate pairs → connected components →
    one KEEPER per cluster by quality (not min-id — keep the best copy,
    the policy real corpus dedup wants), deterministic tiebreak on
    doc_id. Singleton docs (no near-dup edges) keep themselves
    implicitly and are not emitted here."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from ..ext.components import connected_components
    from ..ext.textstats import quality_features

    docs = load_table(spark, sf_dir, "documents")
    comp = connected_components(_lsh_pairs(spark, sf_dir))
    scored = comp.join(
        quality_features(docs).select("doc_id", "quality_score"), on="doc_id"
    )
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("quality_score").desc(), F.col("doc_id").asc()
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") == 1)
        .select(
            "cluster_id",
            F.col("doc_id").alias("keeper_id"),
            "quality_score",
        )
    )


def _cluster_keepers_oracle() -> str:
    from ..ext.components import connected_components_sql
    from ..ext.textstats import quality_score_sql

    cc = connected_components_sql(minhash_lsh_sql())
    return f"""
WITH comp AS ({cc}), scored AS (
  SELECT c.doc_id, c.cluster_id, {quality_score_sql()} AS quality_score
  FROM comp c JOIN documents USING (doc_id)
), ranked AS (
  SELECT *, ROW_NUMBER() OVER (
      PARTITION BY cluster_id
      ORDER BY quality_score DESC, doc_id ASC) AS rnk
  FROM scored
)
SELECT cluster_id, doc_id AS keeper_id, quality_score
FROM ranked WHERE rnk = 1
"""


EXTRA_QUERIES["dedup_cluster_keepers"] = dedup_cluster_keepers
EXTRA_ORACLES["dedup_cluster_keepers"] = _cluster_keepers_oracle()


NEW_SOURCES = ("src18", "src19")


def dedup_incremental_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup: candidate pairs involving the arriving batch
    (sources src18/src19) against the existing corpus — old-vs-old
    pairs never re-emitted."""
    from ..ext.dedup import lsh_incremental_pairs

    docs = load_table(spark, sf_dir, "documents")
    is_new = F.col("source").isin(*NEW_SOURCES)
    return lsh_incremental_pairs(docs.filter(~is_new), docs.filter(is_new))


def _incremental_oracle() -> str:
    from ..ext.dedup import lsh_incremental_sql

    return lsh_incremental_sql("source IN ('src18', 'src19')")


EXTRA_QUERIES["dedup_incremental_lsh"] = dedup_incremental_lsh
EXTRA_ORACLES["dedup_incremental_lsh"] = _incremental_oracle()


def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-iteration PageRank over the MinHash-LSH candidate-pair
    graph: ranks documents by how central they are to near-duplicate
    neighborhoods (template/boilerplate detection)."""
    from ..ext.graph import pagerank_on_pairs

    return pagerank_on_pairs(_lsh_pairs(spark, sf_dir))


def _pagerank_oracle() -> str:
    from ..ext.graph import pagerank_sql

    return pagerank_sql(minhash_lsh_sql())


EXTRA_QUERIES["graph_pagerank"] = graph_pagerank
EXTRA_ORACLES["graph_pagerank"] = _pagerank_oracle()


def dedup_edit_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-level verify over the LSH candidates: normalized
    Levenshtein on 200-char prefixes (ascii_only to match the oracle's
    byte-edit semantics — see ext/dedup.py::edit_distance_verify)."""
    from ..ext.dedup import edit_distance_verify

    docs = load_table(spark, sf_dir, "documents")
    return edit_distance_verify(
        docs, _lsh_pairs(spark, sf_dir), ascii_only=True
    )


def _edit_distance_oracle() -> str:
    from ..ext.dedup import edit_distance_sql

    return edit_distance_sql()


EXTRA_QUERIES["dedup_edit_distance"] = dedup_edit_distance
EXTRA_ORACLES["dedup_edit_distance"] = _edit_distance_oracle()
EXTRA_QUERIES["dedup_simhash"] = dedup_simhash
EXTRA_ORACLES["dedup_simhash"] = simhash16_sql()


def graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc triangle counts over the LSH near-dup graph
    (degree-ordered node-iterator — see ext/graph.py)."""
    from ..ext.graph import triangle_counts

    return triangle_counts(_lsh_pairs(spark, sf_dir))


def _triangles_oracle() -> str:
    from ..ext.graph import triangle_counts_sql

    return triangle_counts_sql(minhash_lsh_sql())


EXTRA_QUERIES["graph_triangles"] = graph_triangles
EXTRA_ORACLES["graph_triangles"] = _triangles_oracle()


def dedup_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source near-duplication matrix: LSH candidate pairs rolled
    up by (source_a, source_b) — the corpus-diagnostic that shows which
    sources mirror which (scraped mirrors, syndication) before choosing
    per-source quotas. Sources are ordered within the pair so the
    matrix is upper-triangular and hash-stable. Two doc-id equi-joins
    (the pair frame is the small side after LSH) + one agg."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = _lsh_pairs(spark, sf_dir)
    src = docs.select("doc_id", "source")
    labeled = pairs.join(
        src.select(F.col("doc_id").alias("doc_a"), F.col("source").alias("sa")),
        on="doc_a",
    ).join(
        src.select(F.col("doc_id").alias("doc_b"), F.col("source").alias("sb")),
        on="doc_b",
    )
    return (
        labeled.select(
            F.least("sa", "sb").alias("source_a"),
            F.greatest("sa", "sb").alias("source_b"),
        )
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))
    )


def _source_overlap_oracle() -> str:
    return f"""
WITH cand AS ({minhash_lsh_sql()})
SELECT LEAST(a.source, b.source) AS source_a,
       GREATEST(a.source, b.source) AS source_b,
       CAST(COUNT(*) AS BIGINT) AS n_pairs
FROM cand
JOIN documents a ON a.doc_id = cand.doc_a
JOIN documents b ON b.doc_id = cand.doc_b
GROUP BY 1, 2
"""


QUERIES["dedup_source_overlap"] = dedup_source_overlap
ORACLES["dedup_source_overlap"] = _source_overlap_oracle()


# k for the DRIVER-FACING k-core query. The library default (k=3)
# yields an EMPTY core at sf0.01 — the driver's correctness SF — so a
# driver row would verify nothing but an empty frame. k=2 (vertices on
# cycles of the near-dup graph) is non-empty at every test SF; the same
# k is replayed into the DuckDB oracle so both engines peel to the same
# fixpoint.
KCORE_QUERY_K = 2


def graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core community extraction over the LSH near-dup graph: the
    dense cluster membership that survives iterative peeling (see
    ext/graph.py kcore_vertices)."""
    from ..ext.graph import kcore_vertices

    return kcore_vertices(_lsh_pairs(spark, sf_dir), k=KCORE_QUERY_K)


def _kcore_oracle() -> str:
    from ..ext.graph import kcore_sql

    return kcore_sql(minhash_lsh_sql(), k=KCORE_QUERY_K)


EXTRA_QUERIES["graph_kcore"] = graph_kcore
EXTRA_ORACLES["graph_kcore"] = _kcore_oracle()


def dedup_contrastive_triplets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive (anchor, positive, hard-negative) training triplets
    mined from the LSH candidate graph: positives are exact
    near-dups, negatives are LSH collisions with near-zero true
    Jaccard — the embedding-training data-prep step (see
    ext/dedup.py::contrastive_triplets)."""
    from ..ext.dedup import contrastive_triplets

    return contrastive_triplets(
        load_table(spark, sf_dir, "documents"), _lsh_pairs(spark, sf_dir)
    )


def _contrastive_oracle() -> str:
    from ..ext.dedup import contrastive_triplets_sql

    return contrastive_triplets_sql(minhash_lsh_sql())


EXTRA_QUERIES["dedup_contrastive_triplets"] = dedup_contrastive_triplets
EXTRA_ORACLES["dedup_contrastive_triplets"] = _contrastive_oracle()
QUERIES["dedup_simhash_pairs"] = dedup_simhash_pairs
ORACLES["dedup_simhash_pairs"] = simhash_neardup_sql()


def graph_clustering(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vertex local clustering coefficient over the LSH near-dup
    graph: C≈1 = mutual near-dup clique (template farm),
    C≈0 = hub-and-spoke collision star (see
    ext/graph.py::clustering_coefficients)."""
    from ..ext.graph import clustering_coefficients

    return clustering_coefficients(_lsh_pairs(spark, sf_dir))


def _clustering_oracle() -> str:
    from ..ext.graph import clustering_coefficients_sql

    return clustering_coefficients_sql(minhash_lsh_sql())


EXTRA_QUERIES["graph_clustering"] = graph_clustering
EXTRA_ORACLES["graph_clustering"] = _clustering_oracle()


def dedup_reweight(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-and-reweight: drop every near-dup cluster member
    except the quality keeper, but carry the cluster SIZE as a sample
    weight on the keeper — the de-dup policy that preserves the
    corpus's true distribution (naive dedup silently down-weights
    popular content; keeping raw duplicates over-trains on it; the
    weight column lets the training sampler have both). Singletons
    (docs in no near-dup cluster) keep weight 1.

    Scale shape: composes the memoized pair hub → components → keeper
    window, then ONE left join of the corpus onto the (cluster-bounded)
    membership/keeper frames. Output is one row per SURVIVING doc.
    """
    from pyspark.sql import Window

    from ..ext.components import connected_components
    from ..ext.textstats import quality_features

    docs = load_table(spark, sf_dir, "documents")
    comp = connected_components(_lsh_pairs(spark, sf_dir))
    sizes = comp.groupBy("cluster_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_members")
    )
    scored = comp.join(
        quality_features(docs).select("doc_id", "quality_score"), on="doc_id"
    )
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("quality_score").desc(), F.col("doc_id").asc()
    )
    keepers = (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") == 1)
        .join(sizes, on="cluster_id")
        .select("doc_id", "n_members")
    )
    membership = comp.select("doc_id", F.lit(True).alias("clustered"))
    return (
        docs.select("doc_id", "source")
        .join(membership, on="doc_id", how="left")
        .join(keepers, on="doc_id", how="left")
        .filter(
            F.col("clustered").isNull() | F.col("n_members").isNotNull()
        )
        .select(
            "doc_id",
            "source",
            F.coalesce(F.col("n_members"), F.lit(1))
            .cast("long")
            .alias("weight"),
        )
    )


def _reweight_oracle() -> str:
    from ..ext.components import connected_components_sql
    from ..ext.textstats import quality_score_sql

    cc = connected_components_sql(minhash_lsh_sql())
    return f"""
WITH comp AS ({cc}), sizes AS (
  SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS n_members
  FROM comp GROUP BY cluster_id
), scored AS (
  SELECT c.doc_id, c.cluster_id, {quality_score_sql()} AS quality_score
  FROM comp c JOIN documents USING (doc_id)
), keepers AS (
  SELECT doc_id, n_members FROM (
    SELECT s.*, ROW_NUMBER() OVER (
        PARTITION BY cluster_id
        ORDER BY quality_score DESC, doc_id ASC) AS rnk
    FROM scored s
  ) r JOIN sizes USING (cluster_id)
  WHERE rnk = 1
)
SELECT d.doc_id, d.source,
       CAST(COALESCE(k.n_members, 1) AS BIGINT) AS weight
FROM documents d
LEFT JOIN comp c ON c.doc_id = d.doc_id
LEFT JOIN keepers k ON k.doc_id = d.doc_id
WHERE c.doc_id IS NULL OR k.doc_id IS NOT NULL
"""


EXTRA_QUERIES["dedup_reweight"] = dedup_reweight
EXTRA_ORACLES["dedup_reweight"] = _reweight_oracle()


def dedup_cluster_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-size distribution of the near-dup graph:
    (cluster_size, n_clusters) — the corpus-health fingerprint dedup
    monitoring dashboards track (a fat tail of giant clusters means
    template floods; mass in size-2 clusters means fuzzy mirrors).
    Composes the memoized pair hub → components → two tiny group-bys.
    """
    from ..ext.components import connected_components

    comp = connected_components(_lsh_pairs(spark, sf_dir))
    sizes = comp.groupBy("cluster_id").agg(
        F.count(F.lit(1)).cast("long").alias("cluster_size")
    )
    return sizes.groupBy("cluster_size").agg(
        F.count(F.lit(1)).cast("long").alias("n_clusters")
    )


def _cluster_histogram_oracle() -> str:
    from ..ext.components import connected_components_sql

    cc = connected_components_sql(minhash_lsh_sql())
    return f"""
WITH comp AS ({cc}), sizes AS (
  SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS cluster_size
  FROM comp GROUP BY cluster_id
)
SELECT cluster_size, CAST(COUNT(*) AS BIGINT) AS n_clusters
FROM sizes GROUP BY cluster_size
"""


EXTRA_QUERIES["dedup_cluster_histogram"] = dedup_cluster_histogram
EXTRA_ORACLES["dedup_cluster_histogram"] = _cluster_histogram_oracle()


def dedup_prefix_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact token-Jaccard >= 0.95 pair join via prefix filtering
    (ext/setjoin.py) — the no-false-negative complement to the LSH
    candidate generators; the exactness-vs-bound dial is the
    family-standard bucket_cap keeper-star. Threshold 0.95: the
    fixture's small shared vocabulary makes lower cuts near-vacuous
    (0.6 keeps ~58% of ALL pairs at sf0.001 — an output-volume bound,
    not a candidate bound) while 0.95 isolates the true near-identical
    sets; prefixes stay 1-2 tokens, the regime prefix filtering is
    built for."""
    from ..ext.setjoin import prefix_jaccard_join

    return prefix_jaccard_join(
        load_table(spark, sf_dir, "documents"), t_num=95, t_den=100
    )


def _prefix_jaccard_oracle() -> str:
    from ..ext.setjoin import prefix_jaccard_sql

    return prefix_jaccard_sql(t_num=95, t_den=100)


EXTRA_QUERIES["dedup_prefix_jaccard"] = dedup_prefix_jaccard
EXTRA_ORACLES["dedup_prefix_jaccard"] = _prefix_jaccard_oracle()


def graph_bfs_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Minimum hop distance (<= 4) from the 10 smallest vertex ids of
    the LSH pair graph — the influence-radius primitive
    (ext/graph.py::bfs_hops) on a deterministic seed set."""
    from ..ext.graph import bfs_hops

    pairs = _lsh_pairs(spark, sf_dir)
    vertices = (
        pairs.selectExpr("doc_a AS doc_id")
        .union(pairs.selectExpr("doc_b AS doc_id"))
        .distinct()
    )
    seeds = vertices.orderBy("doc_id").limit(10)
    return bfs_hops(pairs, seeds, max_hops=4)


def _bfs_oracle() -> str:
    from ..ext.graph import bfs_hops_sql

    seeds = """
  SELECT doc_id FROM (
    SELECT doc_a AS doc_id FROM pairs
    UNION
    SELECT doc_b FROM pairs
  ) ORDER BY doc_id LIMIT 10
"""
    return bfs_hops_sql(minhash_lsh_sql(), seeds, max_hops=4)


EXTRA_QUERIES["graph_bfs_hops"] = graph_bfs_hops
EXTRA_ORACLES["graph_bfs_hops"] = _bfs_oracle()


def graph_personalized_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Personalized PageRank from the 10 smallest vertex ids of the
    LSH pair graph (ext/graph.py::personalized_pagerank) — proximity-
    weighted influence of the seed documents, the stationary cousin of
    graph_bfs_hops on the same deterministic seed set."""
    from ..ext.graph import personalized_pagerank

    pairs = _lsh_pairs(spark, sf_dir)
    vertices = (
        pairs.selectExpr("doc_a AS doc_id")
        .union(pairs.selectExpr("doc_b AS doc_id"))
        .distinct()
    )
    seeds = vertices.orderBy("doc_id").limit(10)
    return personalized_pagerank(pairs, seeds)


def _ppr_oracle() -> str:
    from ..ext.graph import personalized_pagerank_sql

    seeds = """
  SELECT doc_id FROM (
    SELECT doc_a AS doc_id FROM pairs
    UNION
    SELECT doc_b FROM pairs
  ) ORDER BY doc_id LIMIT 10
"""
    return personalized_pagerank_sql(minhash_lsh_sql(), seeds)


EXTRA_QUERIES["graph_personalized_pagerank"] = graph_personalized_pagerank
EXTRA_ORACLES["graph_personalized_pagerank"] = _ppr_oracle()
