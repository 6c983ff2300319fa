"""ML pipeline mechanics (SURVEY.md §2.11): fit, save/load round-trip,
batch + streaming inference (T8)."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.ml import PipelineModel
from pyspark.sql import functions as F

from scala_data_pipeline_spark.ml.pipeline import (
    prepare_training_frame,
    train_model,
)
from scala_data_pipeline_spark.sources import load_table


@pytest.fixture(scope="module")
def model_and_frame(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    train_df = prepare_training_frame(docs).cache()
    model = train_model(train_df, vocab_size=128)
    return model, train_df


def test_pipeline_stages_and_output(model_and_frame):
    model, train_df = model_and_frame
    out = model.transform(train_df)
    assert {"features", "label", "prediction", "category"} <= set(out.columns)
    cats = {r.category for r in out.select("category").distinct().collect()}
    assert cats <= {"en", "de", "fr", "es", "zh"}


def test_save_load_roundtrip(model_and_frame, tmp_path):
    model, train_df = model_and_frame
    path = str(tmp_path / "model")
    model.write().overwrite().save(path)  # S14
    loaded = PipelineModel.load(path)
    a = model.transform(train_df).select("doc_id", "category").toPandas()
    b = loaded.transform(train_df).select("doc_id", "category").toPandas()
    pd.testing.assert_frame_equal(
        a.sort_values("doc_id", ignore_index=True),
        b.sort_values("doc_id", ignore_index=True),
    )


def test_streaming_inference(model_and_frame, spark, sf_dir, tmp_path):
    """T8: PipelineModel.transform on a streaming DataFrame — the
    mlproject/test.scala serving path, file source standing in for Kafka."""
    model, train_df = model_and_frame
    src = str(tmp_path / "stream_src")
    train_df.repartition(2).write.mode("overwrite").parquet(src)
    sdf = spark.readStream.schema(train_df.schema).parquet(src)
    scored = model.transform(sdf).select("doc_id", "category")
    q = (
        scored.writeStream.format("memory")
        .queryName("ml_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(timeout=120)
    got = spark.sql("SELECT * FROM ml_stream").toPandas()
    want = model.transform(train_df).select("doc_id", "category").toPandas()
    pd.testing.assert_frame_equal(
        got.sort_values("doc_id", ignore_index=True),
        want.sort_values("doc_id", ignore_index=True),
    )


def seeded_corpus(spark, seed: int = 7, n: int = 400):
    """Documents in three languages whose words overlap, so many tokens
    tie on count and the vocabulary order depends on how ties break."""
    import random

    rng = random.Random(seed)
    words = {lang: [f"{lang}{i}" for i in range(40)] for lang in ("de", "en", "fr")}
    rows = []
    for doc_id in range(n):
        lang = rng.choice(sorted(words))
        pool = words[lang][:30] + words[rng.choice(sorted(words))][30:]
        text = " ".join(rng.choice(pool) for _ in range(rng.randint(5, 15)))
        rows.append((doc_id, text, lang))
    return spark.createDataFrame(rows, "doc_id BIGINT, text STRING, lang STRING")


def test_checkpointed_fit_matches_plain_fit(spark):
    """train_model fits on one localCheckpoint of its frame: two such
    fits give the same model, a fit on the frame itself gives it too, and
    the checkpointed fit runs fewer Spark jobs."""
    from scala_data_pipeline_spark.ml.pipeline import build_pipeline

    frame = prepare_training_frame(seeded_corpus(spark))
    sc = spark.sparkContext

    def fit(group, build):
        sc.setJobGroup(group, "fit")
        try:
            model = build()
        finally:
            sc._jsc.clearJobGroup()
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        cv, indexer, lr = model.stages[:3]
        state = (
            cv.vocabulary,
            indexer.labels,
            lr.coefficientMatrix.toArray().tolist(),
            lr.interceptVector.toArray().tolist(),
        )
        return state, len(sc.statusTracker().getJobIdsForGroup(group))

    first, jobs = fit("fit-1", lambda: train_model(frame, vocab_size=128))
    second, _ = fit("fit-2", lambda: train_model(frame, vocab_size=128))
    plain, plain_jobs = fit("fit-plain", lambda: build_pipeline(frame, 128).fit(frame))
    assert len(first[0]) == 128
    assert first == second == plain
    assert jobs < plain_jobs


def test_hashed_pipeline_accuracy(spark, sf_dir):
    """HashingTF variant (no vocabulary pass): trains and predicts with
    accuracy comparable to the CountVectorizer pipeline."""
    from pyspark.sql import functions as F

    from scala_data_pipeline_spark.ml.pipeline import (
        build_pipeline,
        build_pipeline_hashed,
        prepare_training_frame,
    )
    from scala_data_pipeline_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents")
    train = prepare_training_frame(docs)

    def accuracy(pipeline):
        pred = pipeline.fit(train).transform(train)
        return pred.select(
            F.avg(
                (F.col("category") == F.col("label_str")).cast("double")
            ).alias("acc")
        ).first()["acc"]

    # hash collisions must not cost meaningful accuracy vs the fitted
    # vocabulary (on this corpus they are exactly equal)
    assert accuracy(build_pipeline_hashed(train)) >= accuracy(
        build_pipeline(train)
    ) - 0.05


def test_confusion_matrix_matches_frozen_fixture(spark, sf_dir):
    """The sf0.001 confusion matrix must equal the frozen VALUES-literal
    fixture the driver oracle serves — this is the determinism pin
    behind giving a trained-model query a hard oracle. A failure here
    means the pipeline's row-order/vocabulary determinism broke (or the
    fixture needs regenerating after an intentional pipeline change:
    python -m scala_data_pipeline_spark.queries.ml_queries)."""
    from scala_data_pipeline_spark.queries.ml_queries import (
        ML_CONFUSION_SF0001,
        ml_confusion_matrix,
    )

    got = sorted(
        (r["actual"], r["predicted"], r["cnt"])
        for r in ml_confusion_matrix(spark, sf_dir).collect()
    )
    assert tuple(got) == ML_CONFUSION_SF0001


def test_quality_classifier_separates_classes(spark, sf_dir):
    """The distilled quality classifier must actually RANK rule-passing
    documents above failing ones (the property curation thresholds
    depend on), not merely run: check mean-score separation and
    pairwise ranking accuracy (AUC) on its own training corpus."""
    from scala_data_pipeline_spark.ml.quality import quality_classifier_scores
    from scala_data_pipeline_spark.sources import load_table

    scored = quality_classifier_scores(
        load_table(spark, sf_dir, "documents")
    )
    rows = scored.collect()
    assert len(rows) == load_table(spark, sf_dir, "documents").count()
    pos = sorted(r["p_quality"] for r in rows if r["passes_gopher"])
    neg = sorted(r["p_quality"] for r in rows if not r["passes_gopher"])
    assert pos and neg, "fixture must contain both classes"
    assert sum(pos) / len(pos) > sum(neg) / len(neg) + 0.2
    # AUC via rank-sum (exact, no sklearn): P(pos > neg) over all pairs.
    import bisect

    wins = sum(
        bisect.bisect_left(neg, p) + 0.5 * (
            bisect.bisect_right(neg, p) - bisect.bisect_left(neg, p)
        )
        for p in pos
    )
    auc = wins / (len(pos) * len(neg))
    assert auc > 0.85, f"AUC {auc:.3f} — classifier failed to learn the rules"


def test_pareto_filter_matches_python_reference(spark):
    """The deterministic Pareto acceptance must reproduce the exact
    md5-uniform math (checked against a pure-Python replay) and keep
    high scorers at a higher rate than low scorers."""
    import hashlib

    from scala_data_pipeline_spark.ml.quality import pareto_filter

    rows = [(i, (i % 101) / 100.0) for i in range(2000)]
    scored = spark.createDataFrame(rows, ["doc_id", "p_quality"])

    def py_keep(doc_id, p, alpha=9.0, salt=""):
        h = hashlib.md5(f"{salt}{doc_id}".encode()).hexdigest()
        u = (int(h[:13], 16) + 1) / (2.0**52 + 1)
        x = (1.0 - u) ** (-1.0 / alpha) - 1.0
        return p > 1.0 - x

    want = sorted(i for i, p in rows if py_keep(i, p))
    got = sorted(
        r["doc_id"] for r in pareto_filter(scored).select("doc_id").collect()
    )
    assert got == want  # bit-exact replay of the same draw
    # Re-run: identical subset (determinism under re-evaluation).
    again = sorted(
        r["doc_id"] for r in pareto_filter(scored).select("doc_id").collect()
    )
    assert again == got
    # Monotone acceptance: top-score decile keeps more than bottom.
    hi = [i for i, p in rows if p >= 0.9]
    lo = [i for i, p in rows if p <= 0.1]
    kept = set(got)
    assert len(kept & set(hi)) / len(hi) > len(kept & set(lo)) / len(lo)


def test_pareto_sample_coverage_band(spark, sf_dir):
    """End-to-end coverage check for ml_quality_pareto_sample (round-13
    verdict item 5): under the published GPT-3 rule the per-doc keep
    probability over a true U(0,1) draw is P(x > 1-s) = (2-s)^(-alpha)
    for s in [0,1], so the kept COUNT is a sum of independent
    Bernoullis with computable mean/variance. The md5-uniform draw must
    land inside a 4-sigma band of that expectation — this bounds the
    previously unbounded rows-only query with a quantitative contract
    (and would catch a broken u-derivation or filter inequality)."""
    from scala_data_pipeline_spark.queries.ml_queries import (
        ml_quality_pareto_sample,
        ml_quality_score,
    )

    alpha = 9.0
    scores = [
        r["p_quality"] for r in ml_quality_score(spark, sf_dir).collect()
    ]
    kept = ml_quality_pareto_sample(spark, sf_dir).count()
    probs = [min(1.0, (2.0 - s) ** (-alpha)) for s in scores]
    mean = sum(probs)
    var = sum(p * (1 - p) for p in probs)
    band = 4.0 * var**0.5
    assert abs(kept - mean) <= max(band, 1.0), (
        f"kept {kept} outside {mean:.1f} +/- {band:.1f}"
    )


def test_crossvalidator_tunes_regularization(model_and_frame, spark):
    """MLlib tuning surface: CrossValidator grid-searches the LR
    regularization over k folds and its best model must score at least
    as well (train accuracy proxy) as the WORST grid point — plus the
    selected params are one of the grid's. Small grid/folds: this
    pins the API contract, not a benchmark."""
    from pyspark.ml import Pipeline
    from pyspark.ml.classification import LogisticRegression
    from pyspark.ml.evaluation import MulticlassClassificationEvaluator
    from pyspark.ml.feature import HashingTF, StringIndexer
    from pyspark.ml.tuning import CrossValidator, ParamGridBuilder

    _, train_df = model_and_frame  # (doc_id, tokens, label_str)
    tf = HashingTF(inputCol="tokens", outputCol="features", numFeatures=256)
    idx = StringIndexer(inputCol="label_str", outputCol="label")
    lr = LogisticRegression(maxIter=10)
    pipe = Pipeline(stages=[tf, idx, lr])
    grid = (
        ParamGridBuilder()
        .addGrid(lr.regParam, [0.001, 10.0])
        .build()
    )
    evaluator = MulticlassClassificationEvaluator(metricName="accuracy")
    cv = CrossValidator(
        estimator=pipe,
        estimatorParamMaps=grid,
        evaluator=evaluator,
        numFolds=2,
        seed=7,
        parallelism=2,
    )
    cv_model = cv.fit(train_df)
    assert len(cv_model.avgMetrics) == 2
    # contract: the selected model IS the argmax grid point (which one
    # wins is data-dependent — heavy regularization can generalize
    # better on a tiny 2-fold corpus; no assumption made)
    best_idx = max(
        range(len(cv_model.avgMetrics)),
        key=lambda i: cv_model.avgMetrics[i],
    )
    best_reg = cv_model.bestModel.stages[-1].getRegParam()
    assert best_reg == grid[best_idx][lr.regParam]
    preds = cv_model.transform(train_df)
    assert evaluator.evaluate(preds) > 0.0
    assert {"prediction", "label"} <= set(preds.columns)
