"""ML pipeline operators (SURVEY.md §2.11 M1-M5).

Reference parity: mlproject/train.scala:38-67 — a 4-stage pipeline
``CountVectorizer → StringIndexer → LogisticRegression → IndexToString``
predicting a categorical label from an array-of-strings column, saved
with ``PipelineModel.write.overwrite`` and served both batch
(dashboard/dashboard.scala:34-44) and per-micro-batch on a stream
(mlproject/test.scala:71).

The reference fits the StringIndexer EAGERLY before assembling the
pipeline, because IndexToString needs the label array at construction
time (train.scala:43-46); reproduced here.

Determinism (SURVEY.md §7.5 risk 7): the token array is sorted before
vectorizing and input rows are pre-sorted by the id column, which pins
CountVectorizer's vocabulary and the training order.
"""

from __future__ import annotations

from pyspark.ml import Pipeline, PipelineModel
from pyspark.ml.classification import LogisticRegression
from pyspark.ml.feature import (
    CountVectorizer,
    HashingTF,
    IndexToString,
    StringIndexer,
)
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def uni_bigram_tokens(text_col: str = "text"):
    """Shared uni+bigram token-array expression (round-13 review: three
    byte-identical copies lived in pipeline.py x2 and ml/quality.py —
    the bigram construction carries subtle invariants (0-based
    transform index vs 1-based element_at, the slice-length guard) that
    must stay consistent with every model's feature space)."""
    toks = F.split(F.col(text_col), " ")
    bigrams = F.transform(
        F.slice(toks, 1, F.size(toks) - 1),
        lambda x, i: F.concat_ws("_", x, F.element_at(toks, i + F.lit(2))),
    )
    return F.concat(toks, bigrams)


def prepare_training_frame(
    docs: DataFrame,
    text_col: str = "text",
    label_col: str = "lang",
    id_col: str = "doc_id",
) -> DataFrame:
    """documents → (id, tokens array<string>, label) — the shape the
    reference builds with collect_list(domain) (train.scala:30-35).

    Tokens are unigrams PLUS joined bigrams: the test corpus's language
    classes share one vocabulary with near-uniform unigram frequencies
    (a per-language Markov generator), so all class signal lives in
    token ADJACENCY — unigram-only features collapse to the majority
    class once the corpus is large enough to wash out sampling noise
    (the sf0.1 all-"en" matrix round 3 flagged). Bigrams restore a
    majority-diagonal confusion matrix at every SF. The combined array
    is sorted AFTER bigram construction, so determinism (fixed
    CountVectorizer vocabulary order) is preserved without destroying
    adjacency information.
    """
    return docs.select(
        id_col,
        F.array_sort(uni_bigram_tokens(text_col)).alias("tokens"),
        F.col(label_col).alias("label_str"),
    ).orderBy(id_col)


def prepare_inference_frame(
    docs: DataFrame,
    text_col: str = "text",
    label_col: str = "lang",
    id_col: str = "doc_id",
) -> DataFrame:
    """Inference twin of ``prepare_training_frame`` WITHOUT the global
    ``orderBy`` and without ``array_sort``: both CountVectorizerModel
    and HashingTF score a row by token COUNTS, which are invariant to
    token order and row order, so predictions (and any aggregate of
    them) are bit-identical to the sorted path — verified by matrix
    equality at sf0.1. Training determinism needs the sorts; scoring
    does not, and at 100 TB the corpus being scored is the big side, so
    this drops a full-corpus global sort (one shuffle + sort of every
    token array) from the hot path."""
    return docs.select(
        id_col,
        uni_bigram_tokens(text_col).alias("tokens"),
        F.col(label_col).alias("label_str"),
    )


def build_pipeline(train_df: DataFrame, vocab_size: int = 1000) -> Pipeline:
    cv = CountVectorizer(
        inputCol="tokens", outputCol="features", vocabSize=vocab_size
    )
    indexer = StringIndexer(inputCol="label_str", outputCol="label").fit(train_df)
    lr = LogisticRegression(maxIter=10, regParam=0.001)
    converter = IndexToString(
        inputCol="prediction", outputCol="category", labels=indexer.labels
    )
    return Pipeline(stages=[cv, indexer, lr, converter])


def _strip_lr_summary(model: PipelineModel) -> PipelineModel:
    """Drop LogisticRegression's training summary in place: the summary
    pins the SparkSession and LR's prediction UDF closes over the model
    object, so a session with unserializable state (e.g. after any
    ``df.observe``) would fail task serialization at transform time.
    Scoring never needs the summary (save/load drops it too)."""
    import pyspark

    sc = pyspark.SparkContext._active_spark_context
    for stage in model.stages:
        if hasattr(stage, "hasSummary") and stage.hasSummary:
            stage._java_obj.setSummary(sc._jvm.scala.Option.empty())
    return model


def train_model(train_df: DataFrame, vocab_size: int = 1000) -> PipelineModel:
    """Fit the pipeline on one eager ``localCheckpoint`` of ``train_df``:
    the StringIndexer fit, the CountVectorizer fit and LR's passes then
    read the materialized rows instead of each re-running the frame's
    token building and global sort. The model equals a fit on
    ``train_df`` itself. Not ``persist()``: fits on a cached frame changed
    the vocabulary order (CountVectorizer orders tied counts as it meets
    the rows), and so the coefficients, from run to run."""
    frame = train_df.localCheckpoint()
    return _strip_lr_summary(build_pipeline(frame, vocab_size).fit(frame))


def train_model_hashed(
    train_df: DataFrame, num_features: int = 8192
) -> PipelineModel:
    return _strip_lr_summary(
        build_pipeline_hashed(train_df, num_features).fit(train_df)
    )


def build_pipeline_hashed(
    train_df: DataFrame, num_features: int = 8192
) -> Pipeline:
    """HashingTF variant: features = hashed term buckets instead of a
    fitted vocabulary. At 100 TB this removes CountVectorizer's extra
    full corpus pass (the vocabulary job) — featurization becomes a
    stateless per-row transform at the cost of hash collisions
    (mitigated by width: at 1024 buckets collisions over the ~930
    observed uni+bigram terms destroy the sf0.1 confusion-matrix
    diagonal; at 8192 the matrix is majority-diagonal at every SF,
    measured). Hashing is also order- and data-independent, so the only
    order-sensitive stage left is LR's gradient float-sum. The rest of
    the pipeline is unchanged."""
    tf = HashingTF(
        inputCol="tokens", outputCol="features", numFeatures=num_features
    )
    indexer = StringIndexer(inputCol="label_str", outputCol="label").fit(train_df)
    lr = LogisticRegression(maxIter=10, regParam=0.001)
    converter = IndexToString(
        inputCol="prediction", outputCol="category", labels=indexer.labels
    )
    return Pipeline(stages=[tf, indexer, lr, converter])
