"""Skew-mitigation equivalence and KMeans-IVF recall."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F

from scala_data_pipeline_spark.ext.ivf import assign_buckets, fit_ivf, ivf_topk
from scala_data_pipeline_spark.ext.similarity import topk_bruteforce
from scala_data_pipeline_spark.operators.skew import salted_agg, salted_join
from scala_data_pipeline_spark.sources import load_table


def _sorted(df):
    pdf = df.toPandas().reindex(sorted(df.columns), axis=1)
    return pdf.sort_values(by=list(pdf.columns), ignore_index=True)


def test_salted_agg_equals_plain(spark, sf_dir):
    events = load_table(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull()
    )
    plain = events.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("cnt"), F.sum("user_id").alias("s")
    )
    salted = salted_agg(
        events,
        key="event_type",
        partial_aggs=[
            (F.count(F.lit(1)), "p_cnt"),
            (F.sum("user_id"), "p_s"),
        ],
        merge_aggs=[
            (F.sum("p_cnt"), "cnt"),
            (F.sum("p_s"), "s"),
        ],
    )
    pd.testing.assert_frame_equal(_sorted(plain), _sorted(salted))


def test_salted_join_equals_plain(spark, sf_dir):
    events = load_table(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull()
    )
    dim = events.select("event_type").distinct().withColumn(
        "type_tag", F.upper("event_type")
    )
    plain = events.join(dim, on="event_type").groupBy("type_tag").count()
    salted = salted_join(events, dim, key="event_type", n_salts=4).groupBy(
        "type_tag"
    ).count()
    pd.testing.assert_frame_equal(_sorted(plain), _sorted(salted))


def test_ivf_recall_vs_bruteforce(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    model = fit_ivf(emb, k=8)
    indexed = assign_buckets(emb, model)
    approx = ivf_topk(indexed, model, queries, k=5, nprobe=3)
    exact = topk_bruteforce(emb, queries, k=5)
    a = {(r.query_id, r.vec_id) for r in approx.collect()}
    e = {(r.query_id, r.vec_id) for r in exact.collect()}
    recall = len(a & e) / len(e)
    # coarse-quantized probe of 3/8 buckets on random unit vectors:
    # expect well over half of the true top-5 recovered
    assert recall >= 0.5, f"recall={recall}"


def test_quantize_reconstruction_error(spark, sf_dir):
    """int8 quantization: values in [-128,127], dequantization error
    bounded by half a quantization step per dimension."""
    from scala_data_pipeline_spark.ext.similarity import quantize_embeddings
    from scala_data_pipeline_spark.sources import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    q = quantize_embeddings(emb)
    joined = emb.join(q, on="vec_id")
    row = joined.first()
    orig, qv = row["embedding"], row["qvec"]
    assert all(-128 <= v <= 127 for v in qv)
    # per-dim bounds from the corpus to dequantize
    import builtins

    rows = emb.select("embedding").collect()
    dims = len(orig)
    los = [builtins.min(round(r["embedding"][i], 8) for r in rows) for i in range(dims)]
    his = [builtins.max(round(r["embedding"][i], 8) for r in rows) for i in range(dims)]
    for i in range(dims):
        step = (his[i] - los[i]) / 255
        deq = los[i] + (qv[i] + 128) * step
        assert abs(deq - orig[i]) <= step * 0.5 + 1e-9, i


def test_quantized_topk_recall(spark, sf_dir):
    """int8 dot-product candidates recover a meaningful share of the
    float cosine top-k (ranking differs both by quantization noise and
    dot-vs-cosine norm effects — production refines the shortlist)."""
    from pyspark.sql import functions as F

    from scala_data_pipeline_spark.ext.similarity import (
        topk_bruteforce,
        topk_quantized,
    )
    from scala_data_pipeline_spark.sources import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    f = {
        (r["query_id"], r["vec_id"])
        for r in topk_bruteforce(emb, emb.filter(F.col("vec_id") < 5))
        .select("query_id", "vec_id")
        .collect()
    }
    q = {
        (r["query_id"], r["vec_id"])
        for r in topk_quantized(emb).select("query_id", "vec_id").collect()
    }
    assert len(f & q) / len(f) >= 0.4


def test_quantize_constant_dim_no_ansi_crash(spark):
    """A dimension constant across the corpus has hi == lo; the clamped
    divisor must give code -128 instead of DIVIDE_BY_ZERO (ANSI mode)."""
    from scala_data_pipeline_spark.ext.similarity import quantize_embeddings

    emb = spark.createDataFrame(
        [(0, [1.0, 0.5]), (1, [1.0, 0.7]), (2, [1.0, 0.9])],
        ["vec_id", "embedding"],
    )
    rows = {r["vec_id"]: r["qvec"] for r in quantize_embeddings(emb).collect()}
    assert all(q[0] == -128 for q in rows.values())  # constant dim -> fixed code
    assert rows[0][1] == -128 and rows[2][1] == 127  # live dim spans full range


def test_ivf_index_persistence_and_pruned_serving(spark, sf_dir, tmp_path):
    """The stored-index lifecycle at 100 TB: fit once → persist the
    quantizer (MLWriter) → reload → identical assignments → write the
    indexed corpus PARTITIONED BY bucket so a probe reads nprobe/k of
    the data (partition pruning asserted on the scan)."""
    from pyspark.ml.clustering import KMeansModel

    from scala_data_pipeline_spark.plans import explain_str

    emb = load_table(spark, sf_dir, "embeddings")
    model = fit_ivf(emb, k=8)
    mpath = str(tmp_path / "ivf_model")
    model.write().overwrite().save(mpath)
    reloaded = KMeansModel.load(mpath)

    a1 = assign_buckets(emb, model).select("vec_id", "ivf_bucket")
    a2 = assign_buckets(emb, reloaded).select("vec_id", "ivf_bucket")
    assert {tuple(r) for r in a1.collect()} == {
        tuple(r) for r in a2.collect()
    }

    ipath = str(tmp_path / "ivf_index")
    assign_buckets(emb, model).drop("embedding").write.partitionBy(
        "ivf_bucket"
    ).mode("overwrite").parquet(ipath)
    probe = spark.read.parquet(ipath).filter(F.col("ivf_bucket") == 0)
    plan = explain_str(probe)
    assert "PartitionFilters" in plan and "ivf_bucket" in plan
    assert probe.count() == a1.filter(F.col("ivf_bucket") == 0).count()


def test_knn_join_recall_floor(spark, sf_dir):
    """SRP-LSH KNN self-join: every vector gets ranked neighbors, the
    approximation keeps >=55% of the exact top-5 pairs on the fixture's
    near-uniform (worst-case) vectors (measured 0.60; deterministic
    given the seeded hyperplanes), and ranks are dense per vector."""
    from pyspark.sql import Window, functions as F

    from scala_data_pipeline_spark.ext.similarity import (
        cosine_prepped,
        knn_join,
        prep_vectors,
    )
    from scala_data_pipeline_spark.sources import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    approx_rows = knn_join(emb, k=5).collect()
    approx = {(r["vec_id"], r["nbr_id"]) for r in approx_rows}
    by_vec = {}
    for r in approx_rows:
        by_vec.setdefault(r["vec_id"], []).append(r["rank"])
    assert all(sorted(v) == list(range(1, len(v) + 1)) for v in by_vec.values())

    p = prep_vectors(emb)
    a = p.select(F.col("vec_id").alias("va"), F.col("emb_r").alias("ea"),
                 F.col("emb_norm").alias("na"))
    b = p.select(F.col("vec_id").alias("vb"), F.col("emb_r").alias("eb"),
                 F.col("emb_norm").alias("nb"))
    allp = a.join(b, a.va != b.vb).select(
        "va", "vb",
        cosine_prepped(F.col("ea"), F.col("na"),
                       F.col("eb"), F.col("nb")).alias("cos"),
    )
    w = Window.partitionBy("va").orderBy(F.col("cos").desc(), F.col("vb").asc())
    exact = {
        (r["va"], r["vb"])
        for r in allp.withColumn("rk", F.row_number().over(w))
        .filter("rk <= 5").collect()
    }
    assert len(approx & exact) / len(exact) >= 0.55


def test_mmr_rerank_matches_pure_python_reference(spark, sf_dir):
    """The applyInPandas MMR must agree EXACTLY with an independent
    pure-Python greedy over the same (engine-exact) candidates: same
    picks, same order, same rounded scores. Also: selections are
    diverse - no query's top-10 may equal plain relevance order unless
    redundancy never bites (checked loosely via at least one query
    reordering)."""
    from pyspark.sql import functions as F

    from scala_data_pipeline_spark.ext.similarity import (
        mmr_rerank,
        prep_vectors,
        topk_bruteforce,
    )
    from scala_data_pipeline_spark.sources import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    got = sorted(
        (r["query_id"], r["rank"], r["vec_id"], r["mmr_score"])
        for r in mmr_rerank(emb, queries).collect()
    )

    cands = {
        (r["query_id"], r["vec_id"]): r["cos"]
        for r in topk_bruteforce(emb, queries, k=25).collect()
    }
    prepped = {
        r["vec_id"]: (r["emb_r"], r["emb_norm"])
        for r in prep_vectors(emb).select("vec_id", "emb_r", "emb_norm").collect()
    }

    def cos(a, b):
        ea, na = prepped[a]
        eb, nb = prepped[b]
        return round(sum(x * y for x, y in zip(ea, eb)) / (na * nb), 6)

    want = []
    for q in range(5):
        pool = sorted(v for (qq, v) in cands if qq == q)
        selected = []
        for rank in range(1, 11):
            best, best_score = None, float("-inf")
            for v in pool:
                if v in selected:
                    continue
                red = max((cos(v, s) for s in selected), default=0.0)
                # (1 - 0.7) != 0.3 in IEEE doubles; mirror the
                # operator's published-form arithmetic exactly.
                score = 0.7 * cands[(q, v)] - (1 - 0.7) * red
                if score > best_score:
                    best, best_score = v, score
            selected.append(best)
            want.append((q, rank, best, round(best_score, 6)))
    assert got == sorted(want)

    # diversity actually bites on at least one query
    rel_order = {}
    for q in range(5):
        rel_order[q] = [
            v for (qq, v), _ in sorted(
                ((key, c) for key, c in cands.items() if key[0] == q),
                key=lambda kv: (-kv[1], kv[0][1]),
            )
        ][:10]
    mmr_order = {}
    for q, rank, v, _ in got:
        mmr_order.setdefault(q, []).append(v)
    assert any(mmr_order[q] != rel_order[q] for q in range(5))


def test_mmr_relevance_diversity_dominance(spark, sf_dir):
    """Quantitative dominance contract vs the brute-force relevance
    rerank (round-13 verdict item 5): per query, (a) MMR's first pick
    IS the relevance argmax (no redundancy term on pick 1), (b) MMR's
    summed relevance never exceeds the relevance-top-10's (top-k
    optimality for the rel objective), and (c) in aggregate MMR's
    selections are strictly more diverse — lower mean pairwise cosine
    among picks — which is the entire point of the operator."""
    from pyspark.sql import functions as F

    from scala_data_pipeline_spark.ext.similarity import (
        mmr_rerank,
        prep_vectors,
        topk_bruteforce,
    )
    from scala_data_pipeline_spark.sources import load_table

    n_queries = 5
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < n_queries)
    mmr = {}
    for r in mmr_rerank(emb, queries).collect():
        mmr.setdefault(r["query_id"], []).append((r["rank"], r["vec_id"]))
    cands = {
        (r["query_id"], r["vec_id"]): r["cos"]
        for r in topk_bruteforce(emb, queries, k=25).collect()
    }
    prepped = {
        r["vec_id"]: (r["emb_r"], r["emb_norm"])
        for r in prep_vectors(emb)
        .select("vec_id", "emb_r", "emb_norm")
        .collect()
    }

    def cos(a, b):
        ea, na = prepped[a]
        eb, nb = prepped[b]
        return sum(x * y for x, y in zip(ea, eb)) / (na * nb)

    def mean_pairwise(picks):
        sims = [
            cos(a, b)
            for i, a in enumerate(picks)
            for b in picks[i + 1 :]
        ]
        return sum(sims) / len(sims)

    div_mmr, div_rel = [], []
    for q in range(n_queries):
        rel_sorted = sorted(
            ((v, c) for (qq, v), c in cands.items() if qq == q),
            key=lambda vc: (-vc[1], vc[0]),
        )
        top_rel = [v for v, _ in rel_sorted[:10]]
        picks = [v for _, v in sorted(mmr[q])]
        assert len(picks) == 10
        # (a) first pick is the relevance argmax
        assert picks[0] == top_rel[0], q
        # (b) relevance dominance of the brute-force top-k
        assert sum(cands[(q, v)] for v in picks) <= sum(
            cands[(q, v)] for v in top_rel
        ) + 1e-9, q
        div_mmr.append(mean_pairwise(picks))
        div_rel.append(mean_pairwise(top_rel))
    # (c) diversity dominance in aggregate
    assert sum(div_mmr) / len(div_mmr) < sum(div_rel) / len(div_rel), (
        div_mmr,
        div_rel,
    )


def test_ivf_incremental_add_equals_rebuild(spark, sf_dir, tmp_path):
    """Incremental index maintenance (round 7): new vectors are
    assigned with the FROZEN quantizer and appended as a new segment;
    serving over the incrementally-grown index must equal serving over
    a one-shot rebuild — same centroids => identical assignments =>
    identical buckets, so the only moving part is the append. This is
    how a production ANN index absorbs a daily embedding delta without
    re-clustering the corpus."""
    emb = load_table(spark, sf_dir, "embeddings")
    base = emb.filter(F.col("vec_id") % 3 != 0)
    delta = emb.filter(F.col("vec_id") % 3 == 0)
    model = fit_ivf(base, k=8)

    ipath = str(tmp_path / "ivf_inc")
    assign_buckets(base, model).write.partitionBy("ivf_bucket").mode(
        "overwrite"
    ).parquet(ipath)
    # the daily delta: assign with the frozen model, append
    assign_buckets(delta, model).write.partitionBy("ivf_bucket").mode(
        "append"
    ).parquet(ipath)

    rebuilt = assign_buckets(emb, model).select("vec_id", "ivf_bucket")
    incremental = spark.read.parquet(ipath).select("vec_id", "ivf_bucket")
    assert {tuple(r) for r in incremental.collect()} == {
        tuple(r) for r in rebuilt.collect()
    }


def test_adaptive_salted_join_equals_plain(spark, sf_dir):
    """Hot-key-only salting must be row-identical to the plain join,
    with a hot threshold that actually splits some keys and leaves
    others cold (events: 'click'/'view' dominate the type axis)."""
    from scala_data_pipeline_spark.operators.skew import (
        adaptive_salted_join,
    )

    events = load_table(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull()
    )
    dim = events.select("event_type").distinct().withColumn(
        "type_tag", F.upper("event_type")
    )
    counts = {
        r["event_type"]: r["n"]
        for r in events.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    # threshold between min and max multiplicity: some hot, some cold
    thresh = (min(counts.values()) + max(counts.values())) // 2
    assert any(n > thresh for n in counts.values())
    assert any(n <= thresh for n in counts.values())
    plain = events.join(dim, on="event_type").groupBy("type_tag").count()
    adaptive = (
        adaptive_salted_join(
            events, dim, key="event_type", hot_threshold=thresh, n_salts=4
        )
        .groupBy("type_tag")
        .count()
    )
    pd.testing.assert_frame_equal(_sorted(plain), _sorted(adaptive))

def test_ivf_probe_assignment_matches_numpy(spark, sf_dir):
    """The Spark-side (literal-centroid, map-side) probe assignment
    must pick the same nprobe buckets numpy argsort picks — the
    round-9 driver-side collect is gone, the semantics must not move."""
    import numpy as np

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 100)
    model = fit_ivf(emb, k=8)
    indexed = assign_buckets(emb, model)
    got = ivf_topk(indexed, model, queries, k=3, nprobe=3)
    probed = {
        r["query_id"]: set()
        for r in got.select("query_id").distinct().collect()
    }
    # Recover which buckets each query's results came from
    bucket_of = {
        r["vec_id"]: r["ivf_bucket"]
        for r in indexed.select("vec_id", "ivf_bucket").collect()
    }
    for r in got.collect():
        probed[r["query_id"]].add(bucket_of[r["vec_id"]])
    centers = [np.array(c, dtype="float64") for c in model.clusterCenters()]
    for r in queries.select("vec_id", "embedding").collect():
        arr = np.array(r["embedding"], dtype="float64")
        dists = [float(np.linalg.norm(arr - c)) for c in centers]
        want = {int(i) for i in np.argsort(dists, kind="stable")[:3]}
        # results can only come from probed buckets (a probed bucket may
        # contribute zero rows to the top-k, so subset not equality)
        assert probed[int(r["vec_id"])] <= want, r["vec_id"]


def test_ivf_topk_no_driver_collect_of_queries(spark, sf_dir):
    """ivf_topk must keep the query frame distributed: the physical
    plan of its output reads the query scan directly (no
    LogicalRDD/parallelize round-trip through the driver)."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    model = fit_ivf(emb, k=8)
    indexed = assign_buckets(emb, model)
    out = ivf_topk(indexed, model, queries, k=5, nprobe=2)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Scan ExistingRDD" not in plan, plan

def test_ivf_topk_raises_on_dim_mismatch(spark, sf_dir):
    """zip_with null-pads a shorter array, which would silently assign
    buckets 0..nprobe-1 — the guard must raise instead (parity with
    the numpy broadcast error it replaced)."""
    import pytest

    emb = load_table(spark, sf_dir, "embeddings")
    model = fit_ivf(emb, k=8)
    indexed = assign_buckets(emb, model)
    bad = emb.filter(F.col("vec_id") < 3).select(
        "vec_id", F.slice("embedding", 1, 7).alias("embedding")
    )
    with pytest.raises(Exception, match="dim"):
        ivf_topk(indexed, model, bad, k=3, nprobe=2).collect()


def test_ivf_topk_serves_every_query_k_rows(spark, sf_dir):
    """A query batch whose ids lie past the corpus ids: every query is
    served, with exactly k rows."""
    emb = load_table(spark, sf_dir, "embeddings")
    model = fit_ivf(emb, k=8)
    indexed = assign_buckets(emb, model)
    queries = emb.filter(F.col("vec_id") < 50).select(
        (F.col("vec_id") + F.lit(10**9)).alias("vec_id"), "embedding"
    )
    out = ivf_topk(indexed, model, queries, k=5, nprobe=2)
    per_query = {
        r["query_id"]: r["n"]
        for r in out.groupBy("query_id").agg(F.count("*").alias("n")).collect()
    }
    assert per_query == {q: 5 for q in range(10**9, 10**9 + 50)}
