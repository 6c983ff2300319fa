"""Curation-operator queries: deterministic sampling, benchmark
decontamination, per-source quota — locally oracle-checked extras (the
driver registry is capped at 50; see queries/__init__)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..ext.curation import (
    cluster_split,
    cluster_split_sql,
    decontaminate,
    decontaminate_sql,
    deterministic_sample,
    deterministic_sample_sql,
    mixture_sample,
    mixture_sample_sql,
    pii_redact,
    pii_redact_sql,
    repetition_ratio,
    repetition_ratio_sql,
    source_quota,
    stratified_sample,
    stratified_sample_sql,
    training_shuffle,
    training_shuffle_sql,
    weighted_sample,
    weighted_sample_sql,
)
from ..ext.textstats import quality_score_sql
from ..sources import load_table

SAMPLE_FRACTION = 0.25
BENCH_CUTOFF = 25  # doc_id < cutoff plays the benchmark/eval set
QUOTA_N = 5


def curation_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return deterministic_sample(docs, SAMPLE_FRACTION).select(
        "doc_id", "lang", "source"
    )


SAMPLE_ORACLE = f"""
SELECT doc_id, lang, source FROM documents
WHERE {deterministic_sample_sql(SAMPLE_FRACTION)}
"""


def curation_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") < BENCH_CUTOFF)
    corpus = docs.filter(F.col("doc_id") >= BENCH_CUTOFF)
    return decontaminate(corpus, bench).select("doc_id", "lang", "source")


DECON_ORACLE = decontaminate_sql(
    docs_pred=f"doc_id >= {BENCH_CUTOFF}",
    bench_pred=f"doc_id < {BENCH_CUTOFF}",
)


def curation_source_quota(spark: SparkSession, sf_dir: str) -> DataFrame:
    return source_quota(load_table(spark, sf_dir, "documents"), QUOTA_N)


QUOTA_ORACLE = f"""
WITH scored AS (
  SELECT doc_id, source, {quality_score_sql()} AS quality_score
  FROM documents
), ranked AS (
  SELECT *, ROW_NUMBER() OVER (
      PARTITION BY source ORDER BY quality_score DESC, doc_id ASC) AS rank
  FROM scored
)
SELECT doc_id, source, quality_score, CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= {QUOTA_N}
"""


QUERIES: dict = {}
ORACLES: dict[str, str] = {}
# Initialized early so rotation demotions can assign at their query's
# definition site; the bulk literal below uses update().
EXTRA_QUERIES: dict = {}
EXTRA_ORACLES: dict = {}

def curation_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The synthetic corpus carries no real PII, so the query plants a
    deterministic email/phone/IP per document (same expression in the
    oracle) — the redaction regexes are exercised for real, not as a
    no-op."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@mail.example.com at 10.0."),
            (F.col("doc_id") % 200).cast("string"),
            F.lit(".7 or 555-123-4567."),
        ).alias("text"),
    )
    return pii_redact(docs)


PII_TEXT_SQL = (
    "text || ' contact user' || CAST(doc_id AS VARCHAR)"
    " || '@mail.example.com at 10.0.' || CAST(doc_id % 200 AS VARCHAR)"
    " || '.7 or 555-123-4567.'"
)

PII_ORACLE = pii_redact_sql(
    table=f"(SELECT doc_id, {PII_TEXT_SQL} AS text FROM documents)"
)


def curation_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    return repetition_ratio(load_table(spark, sf_dir, "documents"))


STRATA_FRACTIONS = {"src0": 0.8, "src1": 0.5, "src2": 0.1}


def curation_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return stratified_sample(docs, STRATA_FRACTIONS, default=0.05).select(
        "doc_id", "source"
    )


STRATIFIED_ORACLE = f"""
SELECT doc_id, source FROM documents
WHERE {stratified_sample_sql(STRATA_FRACTIONS, default=0.05)}
"""


MIXTURE_TARGET = 200


def curation_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-weighted (α=0.5) source-mixture sampling toward a
    ~200-row training mix."""
    return mixture_sample(
        load_table(spark, sf_dir, "documents"), MIXTURE_TARGET
    )


def curation_training_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic shuffle-shard assignment for training order."""
    return training_shuffle(load_table(spark, sf_dir, "documents"))


EXTRA_QUERIES["curation_decontaminate"] = curation_decontaminate
EXTRA_ORACLES["curation_decontaminate"] = DECON_ORACLE


def curation_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A-ES weighted sample: top-50 docs by md5-uniform priority
    scaled to the n_chars weight."""
    return weighted_sample(load_table(spark, sf_dir, "documents"), n=50)


def curation_cluster_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-free train/test split keyed on near-dup clusters (pairs
    from the registry's shared memoized LSH edge list)."""
    from .ext_dedup import _lsh_pairs

    return cluster_split(
        load_table(spark, sf_dir, "documents"),
        pairs=_lsh_pairs(spark, sf_dir),
    )


def _cluster_split_oracle() -> str:
    from ..ext.dedup import minhash_lsh_sql

    return cluster_split_sql(minhash_lsh_sql())


QUERIES["curation_training_shuffle"] = curation_training_shuffle
ORACLES["curation_training_shuffle"] = training_shuffle_sql()

EXTRA_QUERIES.update({
    "curation_source_quota": curation_source_quota,
    "curation_repetition": curation_repetition,
    "curation_stratified": curation_stratified,
})

EXTRA_ORACLES.update({
    "curation_source_quota": QUOTA_ORACLE,
    "curation_repetition": repetition_ratio_sql(),
    "curation_stratified": STRATIFIED_ORACLE,
})

QUERIES["curation_sample"] = curation_sample
ORACLES["curation_sample"] = SAMPLE_ORACLE

QUERIES["curation_mixture_sample"] = curation_mixture_sample
ORACLES["curation_mixture_sample"] = mixture_sample_sql(MIXTURE_TARGET)

EXTRA_QUERIES["curation_cluster_split"] = curation_cluster_split
EXTRA_ORACLES["curation_cluster_split"] = _cluster_split_oracle()

EXTRA_QUERIES["curation_weighted_sample"] = curation_weighted_sample
EXTRA_ORACLES["curation_weighted_sample"] = weighted_sample_sql(n=50)


EPOCH_RATES = {"src0": 2.5, "src1": 1.0, "src2": 0.25, "src3": 1.75}


def curation_epoch_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repeat-factor mixture: oversample small sources (epochs), keep a
    deterministic fraction where the rate is fractional."""
    from ..ext.curation import epoch_oversample

    return epoch_oversample(
        load_table(spark, sf_dir, "documents"), EPOCH_RATES
    )


def _epoch_oracle() -> str:
    from ..ext.curation import epoch_oversample_sql

    return epoch_oversample_sql(EPOCH_RATES)


QUERIES["curation_epoch_mixture"] = curation_epoch_mixture
ORACLES["curation_epoch_mixture"] = _epoch_oracle()


def curation_source_reputation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain/source-reputation filter: per-(source,lang) mean quality
    gates which documents survive; reputation side broadcasts."""
    from ..ext.curation import source_reputation

    return source_reputation(load_table(spark, sf_dir, "documents"))


def _source_reputation_oracle() -> str:
    from ..ext.curation import source_reputation_sql

    return source_reputation_sql()


EXTRA_QUERIES["curation_source_reputation"] = curation_source_reputation
EXTRA_ORACLES["curation_source_reputation"] = _source_reputation_oracle()


# ---------------------------------------------------------------------------
# Temporal embargo split
# ---------------------------------------------------------------------------

_EMBARGO_DAYS = 7
_SPLIT_POINT_FRACTION = 0.8  # train+embargo share of the date span; test = last 20%


def curation_time_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-based train/embargo/test split of orders: test = the last
    20% of the date span, train ends EMBARGO_DAYS before test starts —
    the leakage gap that keeps look-ahead features (rolling windows,
    as-of joins computed near the boundary) from straddling the split,
    the temporal complement to curation_cluster_split's near-dup-
    leakage control. Returns the 3-row split summary (count + date
    range per split).

    Scale shape: one corpus-sized groupBy to the day grain; the
    min/max/cutoff arithmetic and the split assignment run on the DAYS
    frame (integer date arithmetic — engine-identical), then a 3-group
    aggregate. The corpus is never globally sorted or windowed.
    """
    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(F.to_date("o_orderdate").alias("day")).agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    tot = Window.partitionBy()
    d_min = F.min("day").over(tot)
    d_max = F.max("day").over(tot)
    test_start = F.date_add(
        d_min,
        F.floor(
            F.datediff(d_max, d_min) * F.lit(_SPLIT_POINT_FRACTION)
        ).cast("int"),
    )
    embargo_start = F.date_add(test_start, -_EMBARGO_DAYS)
    split = (
        F.when(F.col("day") >= test_start, "test")
        .when(F.col("day") >= embargo_start, "embargo")
        .otherwise("train")
    )
    return (
        daily.select(split.alias("split"), "day", "n")
        .groupBy("split")
        .agg(
            F.sum("n").cast("long").alias("n_orders"),
            F.min("day").alias("first_day"),
            F.max("day").alias("last_day"),
        )
    )


TIME_SPLIT_ORACLE = f"""
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM orders GROUP BY 1
), bounds AS (
  SELECT *,
         MIN(day) OVER () AS d_min,
         MAX(day) OVER () AS d_max
  FROM daily
), tagged AS (
  SELECT n, day,
         d_min + CAST(FLOOR(date_diff('day', d_min, d_max)
                            * {_SPLIT_POINT_FRACTION!r}) AS INTEGER) AS test_start
  FROM bounds
)
SELECT CASE WHEN day >= test_start THEN 'test'
            WHEN day >= test_start - {_EMBARGO_DAYS} THEN 'embargo'
            ELSE 'train' END AS split,
       CAST(SUM(n) AS BIGINT) AS n_orders,
       MIN(day) AS first_day,
       MAX(day) AS last_day
FROM tagged GROUP BY 1
"""

EXTRA_QUERIES["curation_time_split"] = curation_time_split
EXTRA_ORACLES["curation_time_split"] = TIME_SPLIT_ORACLE


def curation_score_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile-map per-source quality-score distributions onto the
    global one (see ext/curation.py::score_calibration)."""
    from ..ext.curation import score_calibration
    from ..ext.textstats import quality_features

    docs = load_table(spark, sf_dir, "documents")
    scores = quality_features(docs).select(
        "doc_id", F.col("quality_score").alias("score")
    )
    return score_calibration(docs, scores)


def _calibration_oracle() -> str:
    from ..ext.curation import score_calibration_sql
    from ..ext.textstats import quality_score_sql

    return score_calibration_sql(quality_score_sql())


EXTRA_QUERIES["curation_score_calibration"] = curation_score_calibration
EXTRA_ORACLES["curation_score_calibration"] = _calibration_oracle()
EXTRA_QUERIES["curation_pii_redact"] = curation_pii_redact
EXTRA_ORACLES["curation_pii_redact"] = PII_ORACLE


def curation_class_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic class-balanced downsample: every
    language keeps exactly min-class-size documents, picked by md5
    order (reproducible, seed-free) — the balancing step a
    multilingual pretraining mix runs on its language axis. The
    language axis is the textbook FEW-HUGE-GROUPS case (5 groups over
    the whole corpus), so the per-class rank comes from
    operators/ranking.py::with_rank — bounded (partition x
    lang) offset scan, partition-local windows — never a 5-task
    Window.partitionBy(lang). The min class size reduces the bounded
    (lang, size) frame driver-side (5 rows, documented bounded set)."""
    from pyspark.sql import functions as F

    from ..operators.ranking import with_rank

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", F.md5(F.col("doc_id").cast("string")).alias("h")
    )
    ranked, parts = with_rank(docs, ["lang"], ["h", "doc_id"], rank_col="rn")
    # The class sizes come from the bounded offset scan's layout.
    sizes: dict[tuple, int] = {}
    for p in parts:
        sizes[p["group"]] = sizes.get(p["group"], 0) + p["cnt"]
    min_size = min(sizes.values())
    # Partition prune: a row with rn <= min_size sits
    # in a partition whose exclusive rank offset is < min_size — the
    # majority classes' tail partitions can contain no kept row, so the
    # rank window never touches them (the filter pushes below it).
    keep = sorted({p["pid"] for p in parts if p["rank_off"] < min_size})
    return (
        ranked.filter(F.col("_pid").isin(keep))
        .filter(F.col("rn") <= min_size)
        .select("lang", "doc_id", F.col("rn").cast("long").alias("rn"))
    )


CLASS_BALANCE_ORACLE = """
WITH ranked AS (
  SELECT doc_id, lang,
         ROW_NUMBER() OVER (
           PARTITION BY lang
           ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn,
         COUNT(*) OVER (PARTITION BY lang) AS n_in_group
  FROM documents
), m AS (
  SELECT MIN(n_in_group) AS min_size
  FROM (SELECT DISTINCT lang, n_in_group FROM ranked)
)
SELECT lang, doc_id, CAST(rn AS BIGINT) AS rn
FROM ranked, m WHERE rn <= min_size
"""

QUERIES["curation_class_balance"] = curation_class_balance
ORACLES["curation_class_balance"] = CLASS_BALANCE_ORACLE


def curation_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weights (Xie et al. 2023) against an
    English-language target distribution: every doc scored by how much
    more likely its hashed unigrams are under the en-docs model than
    the whole-corpus model. Full DuckDB twin — hashing, smoothing, and
    decimal summation are engine-portable (see ext/dsir.py)."""
    from ..ext.dsir import dsir_weights

    return dsir_weights(
        load_table(spark, sf_dir, "documents"), target=F.col("lang") == "en"
    )


def _dsir_weights_oracle() -> str:
    from ..ext.dsir import dsir_weights_sql

    return dsir_weights_sql("lang = 'en'")


EXTRA_QUERIES["curation_dsir_weights"] = curation_dsir_weights
EXTRA_ORACLES["curation_dsir_weights"] = _dsir_weights_oracle()


def curation_dsir_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gumbel-top-k DSIR resample (prob ∝ exp(weight), without
    replacement, hash-deterministic noise) — the actual selection step
    a target-matched pretraining mix runs."""
    from ..ext.dsir import dsir_sample

    return dsir_sample(
        load_table(spark, sf_dir, "documents"),
        target=F.col("lang") == "en",
        k=50,
    )


def _dsir_sample_oracle() -> str:
    from ..ext.dsir import dsir_sample_sql

    return dsir_sample_sql("lang = 'en'", k=50)


EXTRA_QUERIES["curation_dsir_sample"] = curation_dsir_sample
EXTRA_ORACLES["curation_dsir_sample"] = _dsir_sample_oracle()


def curation_unimax_alloc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UniMax (Chung et al. 2023) language-balanced budget allocation:
    water-filling a 1.5x-corpus token budget across languages with a
    2-epoch per-language cap — closed form over the ~5-language grain
    (two window passes on a bounded frame; one corpus token-count
    scan). At the fixture's distribution the four tail languages cap
    at 2 epochs and en absorbs the remainder."""
    from ..ext.curation import unimax_allocation

    return unimax_allocation(
        load_table(spark, sf_dir, "documents"),
        budget_factor=1.5,
        max_epochs=2.0,
    )


def _unimax_oracle() -> str:
    from ..ext.curation import unimax_allocation_sql

    return unimax_allocation_sql(budget_factor=1.5, max_epochs=2.0)


EXTRA_QUERIES["curation_unimax_alloc"] = curation_unimax_alloc
EXTRA_ORACLES["curation_unimax_alloc"] = _unimax_oracle()


def curation_semantic_decon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space eval-leakage flags: corpus vectors (vec_id >=
    25) vs the benchmark split (vec_id < 25, the BENCH_CUTOFF
    precedent), broadcast-scored, max-cosine flagged at 0.4 (the
    fixture's pairwise-cosine ceiling is ~0.51, so the threshold
    actually bites). The semantic complement of
    curation_decontaminate's n-gram overlap."""
    from ..ext.similarity import semantic_decontaminate

    emb = load_table(spark, sf_dir, "embeddings")
    return semantic_decontaminate(
        emb.filter(F.col("vec_id") >= BENCH_CUTOFF),
        emb.filter(F.col("vec_id") < BENCH_CUTOFF),
        threshold=0.4,
    )


def _semantic_decon_oracle() -> str:
    from ..ext.similarity import semantic_decontaminate_sql

    return semantic_decontaminate_sql(
        threshold=0.4,
        bench_pred=f"vec_id < {BENCH_CUTOFF}",
        corpus_pred=f"vec_id >= {BENCH_CUTOFF}",
    )


EXTRA_QUERIES["curation_semantic_decon"] = curation_semantic_decon
EXTRA_ORACLES["curation_semantic_decon"] = _semantic_decon_oracle()
