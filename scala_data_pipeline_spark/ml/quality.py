"""Model-based quality filtering — the classifier block of published
LLM data pipelines (GPT-3 Appendix A, CCNet, LLaMA/RedPajama): train a
cheap linear classifier to recognize "reference-quality" text, score
every document, and use the probability as a soft filter / importance-
sampling weight.

Here the weak supervision comes from the engine's own Gopher/C4 rule
bundle (``ext.textstats.gopher_quality_rules``): rule-passing documents
are the positive class. That makes the component self-contained and
deterministic-by-construction at the label level, while keeping the
shape of the production pattern (in production the positive set is
Wikipedia/books and the corpus is Common Crawl; the plumbing is
identical).

Scale shape: featurization is HashingTF over uni+bigrams — a stateless
per-row transform, no vocabulary job, no extra corpus pass (see
``build_pipeline_hashed``). Training reduces gradients over the labeled
frame; scoring is one map-side pass over the corpus. Nothing here
shuffles the corpus.

No DuckDB oracle (LBFGS training is not SQL); the local test asserts
the scores actually separate the classes (ranking accuracy), which is
the property downstream sampling depends on.
"""

from __future__ import annotations

from pyspark.ml import Pipeline, PipelineModel
from pyspark.ml.classification import LogisticRegression
from pyspark.ml.feature import HashingTF
from pyspark.ml.functions import vector_to_array
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..ext.textstats import gopher_quality_rules
from ..ext.util import keyed_md5, md5_uniform
from .pipeline import _fit, uni_bigram_tokens


def train_quality_classifier(docs: DataFrame) -> PipelineModel:
    """Binary LR over hashed uni+bigram counts; labels = Gopher-rule
    conjunction. The labeled frame is the (small) training side — at
    100 TB you train on a labeled sample, not the corpus; the full
    corpus only ever sees the stateless scoring pass."""
    # Labels and token features come out of ONE projection over the
    # corpus scan (gopher_quality_rules carries the text through via
    # ``keep``) — the previous label-frame join was a full corpus
    # self-join shuffle contradicting the module's "nothing here
    # shuffles the corpus" contract (round-13 review). Determinism:
    # a global orderBy does NOT pin LBFGS gradient float-sum order
    # (treeAggregate combines partials in task-completion order), so
    # the training frame funnels to ONE sorted partition — the
    # ml_confusion_matrix precedent — which is fine because the
    # LABELED frame is the small side at scale (train on a sample).
    train = (
        gopher_quality_rules(docs, keep=("text",))
        .select(
            "doc_id",
            uni_bigram_tokens().alias("tokens"),
            F.col("passes_gopher").cast("double").alias("label"),
        )
        .repartition(1)
        .sortWithinPartitions("doc_id")
    )
    tf = HashingTF(
        inputCol="tokens", outputCol="features", numFeatures=2048
    )
    lr = LogisticRegression(maxIter=10, regParam=0.01)
    return _fit(Pipeline(stages=[tf, lr]), train)


def score_quality(model: PipelineModel, docs: DataFrame) -> DataFrame:
    """(doc_id, passes_gopher, p_quality): the classifier's P(reference-
    quality) per document, alongside the rule label it was distilled
    from — downstream curation thresholds or importance-samples on
    ``p_quality`` (e.g. the GPT-3 Pareto rule)."""
    # One projection, zero joins (round-13 review): the rule label and
    # the token features ride the same scan; HashingTF + LR transform
    # row-wise, so the whole scoring pass is shuffle-free.
    feats = gopher_quality_rules(docs, keep=("text",)).select(
        "doc_id",
        "passes_gopher",
        uni_bigram_tokens().alias("tokens"),
    )
    return model.transform(feats).select(
        "doc_id",
        "passes_gopher",
        F.round(vector_to_array(F.col("probability"))[1], 6).alias(
            "p_quality"
        ),
    )


def quality_classifier_scores(docs: DataFrame) -> DataFrame:
    """Train-then-score convenience used by the registry query."""
    model = train_quality_classifier(docs)
    return score_quality(model, docs)


def pareto_filter(scored: DataFrame) -> DataFrame:
    """GPT-3's published acceptance rule over classifier scores — keep a
    document iff ``score > 1 - x`` with ``x ~ Pareto(9)`` — made
    deterministic: the Pareto draw comes from the inverse transform
    ``x = (1-u)^(-1/9) - 1`` over the house md5-uniform ``u`` of
    doc_id (``ext.util.md5_uniform``). High scorers are
    (almost) always kept; low scorers survive with polynomially-decaying
    probability — deliberately preserving a long tail of lower-scoring
    documents for diversity, exactly the published behavior, but
    reproducible: same corpus ⇒ same subset under any partitioning.

    One codegen scan (md5 + pow per row, no shuffle, no UDF); the
    filter composes with a pushed-down scan when ``scored`` is a stored
    score table.
    """
    u = md5_uniform(keyed_md5("doc_id", ""))
    x = F.pow(F.lit(1.0) - u, F.lit(-1.0 / 9.0)) - F.lit(1.0)
    return scored.filter(F.col("p_quality") > F.lit(1.0) - x)
