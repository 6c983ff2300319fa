"""SemDeDup invariants (ext/semdedup.py): determinism, pairwise
contracts, planted-duplicate recall, k=1 greedy bit-parity."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from scala_data_pipeline_spark.ext.semdedup import (
    _greedy_cluster,
    semantic_dedup,
    semantic_dedup_stats,
)
from scala_data_pipeline_spark.ext.similarity import (
    cosine_prepped,
    prep_vectors,
)
from scala_data_pipeline_spark.sources import load_table

EPS = 0.05


def _corpus(spark, sf_dir):
    return load_table(spark, sf_dir, "embeddings")


def test_partition_and_determinism(spark, sf_dir):
    corpus = _corpus(spark, sf_dir)
    a = semantic_dedup(corpus, k=8, eps=EPS)
    rows = {r.vec_id: r for r in a.collect()}
    assert len(rows) == corpus.count()  # every vector classified
    for r in rows.values():
        # kept rows have no shadow; dropped rows name a KEPT shadow in
        # the same cluster, earlier in rank order
        if r.keep:
            assert r.dup_of is None
        else:
            shadow = rows[r.dup_of]
            assert shadow.keep
            assert shadow.cluster == r.cluster
            assert (shadow.centroid_sim, shadow.vec_id) < (
                r.centroid_sim,
                r.vec_id,
            )
    b = {r.vec_id: r for r in semantic_dedup(corpus, k=8, eps=EPS).collect()}
    assert {k: tuple(v) for k, v in rows.items()} == {
        k: tuple(v) for k, v in b.items()
    }


def test_pairwise_contract_verified_sparkside(spark, sf_dir):
    """Recompute the cosines in Spark (cosine_prepped — the engine's
    oracle-checked kernel): every drop is >= 1-eps similar to its
    shadow; every KEPT pair within a cluster is < 1-eps."""
    corpus = prep_vectors(_corpus(spark, sf_dir))
    dd = semantic_dedup(_corpus(spark, sf_dir), k=8, eps=EPS)
    emb = corpus.select("vec_id", "emb_r", "emb_norm")

    dropped = (
        dd.filter(~F.col("keep"))
        .join(emb.withColumnRenamed("vec_id", "v"), F.col("vec_id") == F.col("v"))
        .drop("v")
        .join(
            emb.select(
                F.col("vec_id").alias("dup_of"),
                F.col("emb_r").alias("emb_b"),
                F.col("emb_norm").alias("norm_b"),
            ),
            on="dup_of",
        )
        .withColumn(
            "cos",
            cosine_prepped(
                F.col("emb_r"), F.col("emb_norm"), F.col("emb_b"), F.col("norm_b")
            ),
        )
    )
    bad = dropped.filter(F.col("cos") < 1 - EPS).count()
    assert bad == 0

    kept = dd.filter(F.col("keep")).join(emb, on="vec_id")
    pairs = (
        kept.alias("a")
        .join(kept.alias("b"), on="cluster")
        .filter(F.col("a.vec_id") < F.col("b.vec_id"))
        .withColumn(
            "cos",
            cosine_prepped(
                F.col("a.emb_r"),
                F.col("a.emb_norm"),
                F.col("b.emb_r"),
                F.col("b.emb_norm"),
            ),
        )
    )
    assert pairs.filter(F.col("cos") >= 1 - EPS).count() == 0


def test_planted_duplicates_dropped(spark, sf_dir):
    """Exact copies of existing vectors (new ids) must be dropped —
    cos(copy, original) = 1 regardless of clustering."""
    corpus = _corpus(spark, sf_dir)
    base = corpus.count()
    copies = corpus.limit(20).select(
        (F.col("vec_id") + F.lit(10**9)).alias("vec_id"),
        "embedding",
        "label",
    )
    dd = semantic_dedup(corpus.unionByName(copies), k=8, eps=EPS)
    n_kept = dd.filter(F.col("keep")).count()
    # each planted pair keeps at most one member
    assert n_kept <= base
    planted = dd.filter(F.col("vec_id") >= 10**9)
    originals = dd.filter(F.col("vec_id") < 10**9)
    # a copy and its original can't BOTH be kept
    both = (
        planted.filter(F.col("keep"))
        .select((F.col("vec_id") - 10**9).alias("vec_id"))
        .join(originals.filter(F.col("keep")), on="vec_id")
        .count()
    )
    assert both == 0


def test_k1_matches_pure_python_greedy(spark, sf_dir):
    """k=1 -> one cluster -> the operator IS the reference greedy;
    check bit-parity against a driver-side pure-python run."""
    corpus = _corpus(spark, sf_dir).limit(60)
    dd = {
        r.vec_id: (r.keep, r.dup_of)
        for r in semantic_dedup(corpus, k=1, eps=EPS).collect()
    }
    # reference: same rank order, same rounding, plain loops
    rows = (
        prep_vectors(corpus)
        .select("vec_id", "emb_r", "emb_norm")
        .collect()
    )
    import numpy as np

    mat = {r.vec_id: np.array(r.emb_r) / (r.emb_norm or 1.0) for r in rows}
    # centroid_sim rank must match the operator's: recompute it the
    # same way (cosine to the single KMeans centroid) is k-means-
    # dependent, so rank by the OPERATOR's own centroid_sim output
    order = [
        r.vec_id
        for r in sorted(
            semantic_dedup(corpus, k=1, eps=EPS).collect(),
            key=lambda r: (r.centroid_sim, r.vec_id),
        )
    ]
    kept: list = []
    expect: dict = {}
    for vid in order:
        shadow = None
        best = -2.0
        for kv in kept:
            s = round(float(mat[kv] @ mat[vid]), 6)
            if s > best:
                best, shadow = s, kv
        if kept and best >= 1 - EPS:
            expect[vid] = (False, shadow)
        else:
            kept.append(vid)
            expect[vid] = (True, None)
    assert dd == expect


def test_over_cap_split_completes_and_holds_invariants(spark, sf_dir):
    """r16 verdict item 3 done-condition: a planted over-cap cluster
    that previously raised now dedups. k=1 + tiny cap forces the whole
    corpus through the splitter; every vector must come back exactly
    once, every final cluster must respect the cap, the shadow
    contract must hold within clusters, and the run is deterministic."""
    corpus = _corpus(spark, sf_dir)
    n = corpus.count()
    dd = semantic_dedup(corpus, k=1, eps=EPS, cluster_cap=64)
    rows = {r.vec_id: r for r in dd.collect()}
    assert len(rows) == n  # no vector lost or duplicated by the split
    from collections import Counter

    sizes = Counter(r.cluster for r in rows.values())
    assert max(sizes.values()) <= 64
    assert len(sizes) >= 2  # the split actually happened
    for r in rows.values():
        if r.keep:
            assert r.dup_of is None
        else:
            shadow = rows[r.dup_of]
            assert shadow.keep and shadow.cluster == r.cluster
    again = {
        r.vec_id: tuple(r)
        for r in semantic_dedup(
            corpus, k=1, eps=EPS, cluster_cap=64
        ).collect()
    }
    assert {k: tuple(v) for k, v in rows.items()} == again


def test_planted_duplicates_dropped_after_split(spark, sf_dir):
    """k=1 and a cap of 64 send the corpus and 20 exact copies through
    the splitter: identical vectors share a sub-cluster, so a copy and
    its original are never both kept."""
    corpus = _corpus(spark, sf_dir)
    copies = corpus.limit(20).select(
        (F.col("vec_id") + F.lit(10**9)).alias("vec_id"),
        "embedding",
        "label",
    )
    rows = semantic_dedup(
        corpus.unionByName(copies), k=1, eps=EPS, cluster_cap=64
    ).collect()
    assert len({r.cluster for r in rows}) >= 2  # the split happened
    kept = {r.vec_id for r in rows if r.keep}
    assert not any(v + 10**9 in kept for v in kept if v < 10**9)


def test_over_cap_identical_points_hash_shard_fallback(spark):
    """KMeans cannot separate identical vectors, so a one-point cluster
    repeated past the cap must fall through to the deterministic
    md5(vec_id) hash shards instead of looping or raising: the job
    completes, shards respect the cap, and each shard keeps exactly
    one copy (cross-shard invisibility is the documented last-resort
    trade)."""
    rows = [(i, [1.0, 0.0, 0.0, 0.0]) for i in range(120)]
    corpus = spark.createDataFrame(rows, ["vec_id", "embedding"])
    dd_df = semantic_dedup(corpus, k=1, eps=EPS, cluster_cap=30)
    dd = dd_df.collect()
    assert len(dd) == 120
    from collections import Counter

    sizes = Counter(r.cluster for r in dd)
    assert max(sizes.values()) <= 30
    kept_per_cluster = Counter(r.cluster for r in dd if r.keep)
    # identical points: exactly one keeper per non-empty shard
    assert set(kept_per_cluster) == set(sizes)
    assert all(v == 1 for v in kept_per_cluster.values())
    # r17 verdict item 3: the fallback is OBSERVABLE — the result frame
    # names the hash-sharded cluster ids, and semantic_dedup_stats flags
    # exactly those clusters so n_hash_sharded_clusters / rows affected
    # are one filter away for a production run.
    hash_ids = set(dd_df.semdedup_hash_sharded_clusters)
    assert set(sizes) <= hash_ids  # every live cluster came from hashing
    stats = semantic_dedup_stats(dd_df).collect()
    assert all(r.hash_sharded for r in stats)
    n_hash_sharded_clusters = sum(1 for r in stats if r.hash_sharded)
    rows_affected = sum(r.n_vectors for r in stats if r.hash_sharded)
    assert n_hash_sharded_clusters == len(sizes)
    assert rows_affected == 120


def test_stats_on_derived_frame_warns_and_accepts_explicit_ids(spark):
    """r18 advisor item 2: the hash-shard side-channel is a plain
    attribute on the exact result object — ANY derived frame drops it.
    semantic_dedup_stats must distinguish absent (derived/round-tripped
    frame -> warn, default no flags) from present-but-empty (no shard
    fired -> silent), and honour an explicitly passed id list."""
    import warnings as _w

    rows = [(i, [1.0, 0.0, 0.0, 0.0]) for i in range(120)]
    corpus = spark.createDataFrame(rows, ["vec_id", "embedding"])
    dd_df = semantic_dedup(corpus, k=1, eps=EPS, cluster_cap=30)
    hash_ids = tuple(dd_df.semdedup_hash_sharded_clusters)
    assert hash_ids  # the 120-identical-points corpus hash-shards
    derived = dd_df.filter(F.lit(True))  # attribute silently dropped
    with _w.catch_warnings(record=True) as caught:
        _w.simplefilter("always")
        stats = semantic_dedup_stats(derived).collect()
    assert any("side-channel" in str(c.message) for c in caught)
    assert not any(r.hash_sharded for r in stats)  # defaulted, flagged 0
    # explicit pass-through restores the flags with no warning
    with _w.catch_warnings(record=True) as caught:
        _w.simplefilter("always")
        stats2 = semantic_dedup_stats(derived, hash_sharded=hash_ids)
        flagged = {r.cluster for r in stats2.collect() if r.hash_sharded}
    assert not any("side-channel" in str(c.message) for c in caught)
    assert flagged == set(hash_ids) & {r.cluster for r in stats2.collect()}
    # present-but-empty (no shard fired) stays silent
    small = semantic_dedup(
        spark.createDataFrame(rows[:10], ["vec_id", "embedding"]),
        k=1,
        eps=EPS,
        cluster_cap=30,
    )
    assert small.semdedup_hash_sharded_clusters == ()
    with _w.catch_warnings(record=True) as caught:
        _w.simplefilter("always")
        semantic_dedup_stats(small).collect()
    assert not any("side-channel" in str(c.message) for c in caught)


def test_over_cap_duplicate_vec_ids_raise_names_split_fallback(spark):
    """r18 advisor item: when even the hash-shard rounds cannot satisfy
    the cap (only possible with DUPLICATED vec_ids — every copy hashes
    to the same shard), the error must name the split fallback and the
    actual cause, never the misleading 'increase k'."""
    rows = [(7, [1.0, 0.0, 0.0, 0.0]) for _ in range(120)]
    corpus = spark.createDataFrame(rows, ["vec_id", "embedding"])
    with pytest.raises(ValueError, match="hash-shard.*deduplicate vec_id"):
        semantic_dedup(corpus, k=1, eps=EPS, cluster_cap=30).collect()


def test_centroid_broadcast_join_path_matches_literal(spark, sf_dir, monkeypatch):
    """r18 advisor item: past _CENTER_LITERAL_MAX_DOUBLES the own-
    cluster centroid lookup becomes a broadcast join instead of a plan
    literal — the two paths must produce identical decisions."""
    import scala_data_pipeline_spark.ext.semdedup as sd

    corpus = _corpus(spark, sf_dir)
    lit = {r.vec_id: tuple(r) for r in semantic_dedup(corpus, k=8, eps=EPS).collect()}
    monkeypatch.setattr(sd, "_CENTER_LITERAL_MAX_DOUBLES", 1)
    joined = {
        r.vec_id: tuple(r)
        for r in semantic_dedup(corpus, k=8, eps=EPS).collect()
    }
    assert lit == joined


def test_stats_partition(spark, sf_dir):
    corpus = _corpus(spark, sf_dir)
    dd = semantic_dedup(corpus, k=8, eps=EPS)
    stats = semantic_dedup_stats(dd).collect()
    assert sum(r.n_vectors for r in stats) == corpus.count()
    for r in stats:
        assert 0 < r.n_kept <= r.n_vectors
        assert 0 <= r.drop_ratio < 1


def test_greedy_cluster_unit():
    """_greedy_cluster on a hand-built frame: v2 duplicates v1, v3 is
    orthogonal — keep v1 (best rank) and v3, drop v2 onto v1."""
    pdf = pd.DataFrame(
        {
            "vec_id": [1, 2, 3],
            "cluster": [0, 0, 0],
            "centroid_sim": [0.1, 0.2, 0.3],
            "emb_r": [[1.0, 0.0], [1.0, 0.0], [0.0, 1.0]],
            "emb_norm": [1.0, 1.0, 1.0],
        }
    )
    out = _greedy_cluster(pdf, eps=0.05).set_index("vec_id")
    assert bool(out.loc[1, "keep"]) and bool(out.loc[3, "keep"])
    assert not bool(out.loc[2, "keep"]) and out.loc[2, "dup_of"] == 1
