"""Corpus-curation operators beyond dedup: deterministic sampling,
benchmark decontamination, per-source quota selection.

All three are standard large-scale training-data steps and all stay
JVM-side:

- **deterministic_sample** — hash-threshold sampling: keep a row iff a
  hex prefix of md5(key) is below the fraction's threshold. Unlike
  ``DataFrame.sample`` it is reproducible across runs, partitionings
  and engines (the DuckDB oracle computes the identical predicate), and
  it composes: the same fraction on the same keys always selects the
  same subset, so incremental re-runs are stable. Pure scan predicate —
  no shuffle, fully pushable.
- **decontaminate** — drop documents sharing any word n-gram with a
  benchmark/eval set. The benchmark's n-gram digests are broadcast
  (eval sets are small by definition); the corpus explodes its n-grams
  once, hash-joins against the broadcast, and the contaminated doc ids
  anti-join back. Cost: one corpus scan + one broadcast join, no
  corpus-sized shuffle.
- **source_quota** — top-n documents per source by quality score with a
  deterministic tiebreak: the data-mixing primitive ("at most N pages
  per domain"). One shuffle on source; rank + filter, no global sort.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..session import local_frame
from .dedup import shingles, shingles_sql
from .textstats import quality_features
from .util import (
    fan_out,
    keyed_md5,
    keyed_md5_sql,
    md5_uniform,
    md5_uniform_sql,
)


def sample_threshold_hex(fraction: float) -> str:
    """4-hex-char threshold t such that P[substr(md5(k),1,4) < t] ≈
    fraction (md5 hex digits are uniform). fraction >= 1.0 returns 'g',
    which sorts above every hex prefix — 'keep everything' must keep the
    ~1/65536 of rows whose prefix is 'ffff' too."""
    if not 0.0 <= fraction <= 1.0:
        raise ValueError(f"fraction must be in [0,1], got {fraction}")
    if fraction >= 1.0:
        return "g"
    return format(min(int(fraction * 65536), 65535), "04x")


def deterministic_sample(docs: DataFrame, fraction: float) -> DataFrame:
    """Keep ~``fraction`` of rows, selected by md5(doc_id) hex-prefix
    threshold — reproducible and engine-independent (string comparison
    on lowercase hex, no hex→int parse)."""
    return docs.filter(
        F.substring(keyed_md5("doc_id", ""), 1, 4)
        < sample_threshold_hex(fraction)
    )


def deterministic_sample_sql(fraction: float) -> str:
    """DuckDB twin of the sampling predicate (WHERE-clause fragment)."""
    return (
        f"substr({keyed_md5_sql('doc_id', '')}, 1, 4)"
        f" < '{sample_threshold_hex(fraction)}'"
    )


def cluster_split(
    docs: DataFrame, pairs: DataFrame | None = None
) -> DataFrame:
    """Leakage-free train/test split: the split key is the document's
    near-dup CLUSTER, not the document — two near-duplicates can never
    land on opposite sides, which is exactly the eval-contamination
    mode a doc-keyed random split invites (a test doc's near-copy in
    train is leakage no decontamination n-gram check reliably sees).
    Clusters come from the standard LSH pair chain
    (dedup.lsh_candidate_pairs → components.connected_components);
    singleton documents are their own cluster. The side is the house
    md5-threshold draw over the cluster id, so the split is
    reproducible, engine-independent, and ~10% of
    CLUSTERS (hence of docs, up to cluster-size variance) goes to test.

    Returns (doc_id, cluster_id, split) for every document.

    Scale shape: the pair chain's own bounds (capped buckets, never
    all-pairs), one left equi-join of the corpus against the (small,
    edge-bounded) component labels, and a per-row hash for the side.
    Callers that already hold the candidate edge list (the registry
    memoizes one per sf_dir) pass it via ``pairs`` to skip the rebuild.
    """
    from .components import connected_components
    from .dedup import lsh_candidate_pairs

    if pairs is None:
        pairs = lsh_candidate_pairs(docs)
    comp = connected_components(pairs)
    thr = sample_threshold_hex(0.1)
    labeled = (
        docs.select("doc_id")
        .join(comp, on="doc_id", how="left")
        .withColumn("cluster_id", F.coalesce("cluster_id", F.col("doc_id")))
    )
    digest = keyed_md5("cluster_id", "split")
    return labeled.withColumn(
        "split",
        F.when(F.substring(digest, 1, 4) < thr, "test").otherwise("train"),
    )


def cluster_split_sql(pairs_sql: str) -> str:
    """DuckDB twin of :func:`cluster_split` over the same pair query."""
    from .components import connected_components_sql

    thr = sample_threshold_hex(0.1)
    digest = keyed_md5_sql("COALESCE(c.cluster_id, d.doc_id)", "split")
    return f"""
WITH comp AS (
{connected_components_sql(pairs_sql)}
)
SELECT d.doc_id,
       COALESCE(c.cluster_id, d.doc_id) AS cluster_id,
       CASE WHEN substr({digest}, 1, 4) < '{thr}'
            THEN 'test' ELSE 'train' END AS split
FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id
"""


def weighted_sample(docs: DataFrame, n: int, salt: str = "") -> DataFrame:
    """Deterministic weighted sampling WITHOUT replacement — the
    Efraimidis-Spirakis A-ES scheme with the random draw replaced by the
    house md5-uniform u of (salt, key), priority = -ln(u)/w, keep the n
    smallest. P[selected] scales with weight w (quality-weighted corpus
    subsampling, importance-weighted eval picks), the draw is
    reproducible and engine-independent, and
    a different ``salt`` yields an independent sample over the same
    keys. Zero/negative-weight rows are outside the A-ES domain and are
    excluded (loudly documented rather than silently kept).

    Scale shape: one scan computing a per-row priority (codegen —
    md5 + conv + ln, no shuffle), then a global top-n
    (TakeOrderedAndProject — per-partition heaps, one tiny merge). The
    ONLY float risk across engines is ln's last ulp; priorities are
    rounded to 6 before ordering (doc_id tiebreak) so selection and
    hash agree unless a value lands exactly on a rounding boundary —
    the same exactness class as text_bm25's oracle.
    """
    u = md5_uniform(keyed_md5("doc_id", salt))
    w = F.col("n_chars").cast("double")
    score = F.round(-F.log(u) / w, 6)
    return (
        docs.filter(w > 0)
        .select(
            "doc_id",
            F.col("n_chars").cast("long").alias("weight"),
            score.alias("priority"),
        )
        .orderBy(F.col("priority").asc(), F.col("doc_id").asc())
        .limit(n)
    )


def weighted_sample_sql(n: int) -> str:
    """DuckDB twin of :func:`weighted_sample` — the same uniform and
    the same double ops in the same order."""
    u = md5_uniform_sql(keyed_md5_sql("doc_id", ""))
    return f"""
SELECT doc_id,
       CAST(n_chars AS BIGINT) AS weight,
       ROUND(-ln({u}) / CAST(n_chars AS DOUBLE), 6) AS priority
FROM documents
WHERE CAST(n_chars AS DOUBLE) > 0
ORDER BY priority ASC, doc_id ASC
LIMIT {n}
"""


def decontaminate(docs: DataFrame, benchmark: DataFrame) -> DataFrame:
    """Remove from ``docs`` every document sharing at least one word
    8-gram with ``benchmark`` (the eval-set leakage guard)."""
    doc_grams = fan_out(docs).select(
        "doc_id", F.explode(shingles(F.col("text"), 8)).alias("g")
    ).select("doc_id", F.md5("g").alias("h"))
    bench_grams = (
        benchmark.select(F.explode(shingles(F.col("text"), 8)).alias("g"))
        .select(F.md5("g").alias("h"))
        .distinct()
    )
    contaminated = (
        doc_grams.join(F.broadcast(bench_grams), on="h").select("doc_id").distinct()
    )
    return docs.join(contaminated, on="doc_id", how="left_anti")


def decontaminate_sql(docs_pred: str, bench_pred: str) -> str:
    """DuckDB twin: documents matching ``docs_pred`` that share no
    n-gram digest with documents matching ``bench_pred``."""
    return f"""
WITH bench_grams AS (
  SELECT DISTINCT md5(g) AS h
  FROM (SELECT unnest({shingles_sql('text', 8)}) AS g
        FROM documents WHERE {bench_pred})
), contaminated AS (
  SELECT DISTINCT doc_id
  FROM (SELECT doc_id, md5(unnest({shingles_sql('text', 8)})) AS h
        FROM documents WHERE {docs_pred})
  WHERE h IN (SELECT h FROM bench_grams)
)
SELECT doc_id, lang, source
FROM documents
WHERE {docs_pred}
  AND doc_id NOT IN (SELECT doc_id FROM contaminated)
"""


def stratified_sample(
    docs: DataFrame, fractions: dict[str, float], default: float = 0.0
) -> DataFrame:
    """Per-stratum deterministic sampling: each stratum keeps its own
    fraction (the data-mixing knob: "30% web, 100% books, 5% logs").
    Same md5-threshold mechanism as :func:`deterministic_sample` —
    reproducible, engine-independent, a pure scan predicate (no shuffle,
    no per-stratum passes)."""
    digest = F.substring(keyed_md5("doc_id", ""), 1, 4)
    thr = F.lit(sample_threshold_hex(default))
    for stratum, frac in sorted(fractions.items()):
        thr = F.when(
            F.col("source") == stratum, sample_threshold_hex(frac)
        ).otherwise(thr)
    return docs.filter(digest < thr)


def stratified_sample_sql(
    fractions: dict[str, float], default: float = 0.0
) -> str:
    """WHERE-clause fragment, DuckDB twin of :func:`stratified_sample`."""
    cases = " ".join(
        f"WHEN '{s}' THEN '{sample_threshold_hex(f)}'"
        for s, f in sorted(fractions.items())
    )
    thr = f"CASE source {cases} ELSE '{sample_threshold_hex(default)}' END"
    return f"substr({keyed_md5_sql('doc_id', '')}, 1, 4) < {thr}"


# PII patterns (RE2/Java-compatible subset; identical semantics in
# Spark's regexp_replace/regexp_count and DuckDB's regexp_* with 'g').
PII_PATTERNS = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "phone": r"\b\d{3}[-.]\d{3}[-.]\d{4}\b",
    "ipv4": r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b",
}


def pii_redacted_col(text: Column) -> Column:
    """The redacted text as a bare column expression — the same chained
    email → phone → ipv4 replacement :func:`pii_redact` applies, for
    pipelines that only need the scrubbed text and would otherwise
    self-join the redaction frame back on doc_id (the export chain's
    clean stage)."""
    red = text
    for kind in ("email", "phone", "ipv4"):
        red = F.regexp_replace(red, PII_PATTERNS[kind], f"<{kind.upper()}>")
    return red


def pii_redact(docs: DataFrame) -> DataFrame:
    """Scrub emails, phone numbers and IPv4 addresses, replacing each
    with a typed placeholder, and count redactions per document.

    Pure per-row regex work — no shuffle, whole-stage codegen, the scan
    predicate/projection push down untouched. Order matters: emails are
    redacted before IPs so ``user@1.2.3.4``-style hostnames never leave
    a partial address behind.
    """
    red = pii_redacted_col(F.col("text"))
    counts = {}
    probe = F.col("text")
    for kind in ("email", "phone", "ipv4"):
        # Count on the text as redacted so far, so an IP inside an
        # already-redacted email host is not double-counted: each count
        # equals the number of replacements actually applied.
        counts[kind] = F.regexp_count(probe, F.lit(PII_PATTERNS[kind])).cast("long")
        probe = F.regexp_replace(probe, PII_PATTERNS[kind], f"<{kind.upper()}>")
    return docs.select(
        "doc_id",
        red.alias("redacted"),
        counts["email"].alias("n_email"),
        counts["phone"].alias("n_phone"),
        counts["ipv4"].alias("n_ipv4"),
        sum(counts.values()).alias("n_pii"),
    )


def pii_redact_sql(table: str = "documents") -> str:
    """DuckDB twin of :func:`pii_redact` over ``text``."""
    red = "text"
    counts = {}
    for kind in ("email", "phone", "ipv4"):
        counts[kind] = (
            f"CAST(len(regexp_extract_all({red}, '{PII_PATTERNS[kind]}')) AS BIGINT)"
        )
        red = f"regexp_replace({red}, '{PII_PATTERNS[kind]}', '<{kind.upper()}>', 'g')"
    total = " + ".join(counts.values())
    return f"""
SELECT doc_id,
       {red} AS redacted,
       {counts['email']} AS n_email,
       {counts['phone']} AS n_phone,
       {counts['ipv4']} AS n_ipv4,
       {total} AS n_pii
FROM {table}
"""


def repetition_ratio(docs: DataFrame) -> DataFrame:
    """Within-document repetition: fraction of word bigrams that are
    duplicates (1 - distinct/total). The standard boilerplate/spam
    signal for corpus filtering. Array-local higher-order functions
    only — per-row, no shuffle, no UDF."""
    sh = shingles(F.col("text"), 2)
    ratio = F.round(
        1 - F.size(F.array_distinct(sh)) / F.size(sh), 6
    )
    return docs.select(
        "doc_id",
        F.size(sh).cast("long").alias("n_ngrams"),
        F.size(F.array_distinct(sh)).cast("long").alias("n_distinct"),
        ratio.alias("repetition_ratio"),
    )


def repetition_ratio_sql() -> str:
    sh = shingles_sql("text", 2)
    return f"""
SELECT doc_id,
       CAST(len({sh}) AS BIGINT) AS n_ngrams,
       CAST(len(list_distinct({sh})) AS BIGINT) AS n_distinct,
       ROUND(1 - CAST(len(list_distinct({sh})) AS DOUBLE) / len({sh}), 6)
         AS repetition_ratio
FROM documents
"""


def source_quota(docs: DataFrame, n_per_source: int) -> DataFrame:
    """At most ``n_per_source`` documents per source, best quality
    first, doc_id as the deterministic tiebreak."""
    scored = docs.join(
        quality_features(docs).select("doc_id", "quality_score"), on="doc_id"
    )
    w = Window.partitionBy("source").orderBy(
        F.col("quality_score").desc(), F.col("doc_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= n_per_source)
        .select("doc_id", "source", "quality_score", "rank")
    )


def mixture_sample(docs: DataFrame, target_rows: int) -> DataFrame:
    """Temperature-weighted mixture sampling (α = 0.5): per-source
    sampling shares p_s ∝ sqrt(n_s) — the standard training-mixture
    reweighting that upsamples rare sources relative to their corpus
    share — then each source keeps fraction min(1, p_s·target/n_s) of
    its rows via the md5-threshold mechanism.

    Engine-exactness: α is fixed at 0.5 because sqrt is IEEE
    correctly-rounded in both Spark and DuckDB (a general pow() is not);
    per-source sqrt weights are rounded to 8 decimals and summed as
    decimal(18,8) so the normalizer is order-independent; the keep
    fraction is converted to a 4-hex md5 threshold IN-ENGINE (floor,
    hex, lpad) so both engines derive identical thresholds.

    Scale shape: one tiny aggregation (n_sources rows), an unpartitioned
    window over that tiny frame, and a broadcast join back — the corpus
    itself never shuffles; the filter is a scan predicate.
    """
    counts = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n_s"))
    w_all = Window.partitionBy()
    rates = (
        counts.withColumn("w_s", F.round(F.sqrt(F.col("n_s")), 8))
        .withColumn(
            "w_total",
            F.sum(F.col("w_s").cast("decimal(18,8)")).over(w_all)
            .cast("double"),
        )
        .withColumn(
            "keep_frac",
            F.least(
                F.lit(1.0),
                F.col("w_s") / F.col("w_total")
                * F.lit(float(target_rows)) / F.col("n_s").cast("double"),
            ),
        )
        .withColumn(
            "thr",
            F.when(F.col("keep_frac") >= 1.0, F.lit("g")).otherwise(
                F.lpad(
                    F.lower(
                        F.hex(F.floor(F.col("keep_frac") * F.lit(65536.0)))
                    ),
                    4,
                    "0",
                )
            ),
        )
        .select("source", "n_s", "thr")
    )
    digest = F.substring(keyed_md5("doc_id", "mix"), 1, 4)
    return (
        docs.join(F.broadcast(rates), on="source")
        .filter(digest < F.col("thr"))
        .select("doc_id", "source")
    )


def mixture_sample_sql(target_rows: int) -> str:
    """DuckDB twin of :func:`mixture_sample` — identical float ops in
    identical order (sqrt → round 8 → decimal-sum normalizer → same
    multiply/divide sequence → floor/hex threshold)."""
    return f"""
WITH counts AS (
  SELECT source, COUNT(*) AS n_s FROM documents GROUP BY source
), rates AS (
  SELECT source, n_s,
         LEAST(1.0,
           ROUND(sqrt(n_s), 8)
             / CAST(SUM(CAST(ROUND(sqrt(n_s), 8) AS DECIMAL(18,8))) OVER () AS DOUBLE)
             * {float(target_rows)} / CAST(n_s AS DOUBLE)) AS keep_frac
  FROM counts
), thresholds AS (
  SELECT source,
         CASE WHEN keep_frac >= 1.0 THEN 'g'
              ELSE lpad(lower(to_hex(CAST(floor(keep_frac * 65536.0) AS BIGINT))), 4, '0')
         END AS thr
  FROM rates
)
SELECT d.doc_id, d.source
FROM documents d JOIN thresholds t USING (source)
WHERE substr({keyed_md5_sql("d.doc_id", "mix")}, 1, 4) < t.thr
"""


def training_shuffle(docs: DataFrame) -> DataFrame:
    """Deterministic global shuffle + sharding for training order:
    shard = first 2 hex chars of md5('shuf' || doc_id) (256 shards),
    position = rank of the full digest within the shard. (shard, pos)
    is a reproducible, engine-independent random total order — the
    pattern for writing shuffled training shards without a global sort:
    one shuffle on the shard key, per-shard ranking, each shard written
    independently."""
    digest = keyed_md5("doc_id", "shuf")
    w = Window.partitionBy("shard").orderBy("digest", "doc_id")
    return (
        docs.select(
            "doc_id",
            digest.alias("digest"),
        )
        .withColumn("shard", F.substring("digest", 1, 2))
        .withColumn("pos", F.row_number().over(w).cast("long"))
        .select("doc_id", "shard", "pos")
    )


def training_shuffle_sql() -> str:
    """DuckDB twin of :func:`training_shuffle`."""
    return f"""
WITH hashed AS (
  SELECT doc_id,
         {keyed_md5_sql('doc_id', 'shuf')} AS digest
  FROM documents
)
SELECT doc_id,
       substr(digest, 1, 2) AS shard,
       CAST(ROW_NUMBER() OVER (
           PARTITION BY substr(digest, 1, 2)
           ORDER BY digest, doc_id) AS BIGINT) AS pos
FROM hashed
"""


# ---------------------------------------------------------------------------
# Epoch oversampling (the upsampling half of mixture building)
# ---------------------------------------------------------------------------


def _epoch_rate_rows(rates: dict[str, float]) -> list[tuple[str, int, str]]:
    """(source, n_full, extra-copy hex threshold) — thresholds computed
    in PYTHON so neither engine does any float math at all; the rate
    config is literal, exactly like a real mixing config file."""
    import math

    rows = []
    for src, rate in sorted(rates.items()):
        n_full = int(math.floor(rate))
        frac = rate - n_full
        thr = "g" if frac >= 1 else format(
            int(math.floor(frac * 65536)), "04x"
        )
        rows.append((src, n_full, thr))
    return rows


def epoch_oversample(docs: DataFrame, rates: dict[str, float]) -> DataFrame:
    """Per-source repeat-factor sampling — the UPSAMPLING direction
    mixture_sample (pure downsampling) cannot express: a source with
    rate 2.5 contributes every document twice plus a deterministic half
    of them a third time (epochs 1..3); rate 0.25 keeps a quarter at
    epoch 1. This is how small high-quality sources (books, reference
    text) are repeated against a large web corpus in real training
    mixtures; the ``epoch`` column keeps repeated copies
    distinguishable downstream (per-epoch shuffle salts, loss masking).

    Sources absent from ``rates`` are dropped — the config IS the
    mixture definition. Determinism: the fractional extra copy keeps
    exactly the documents whose salted md5 prefix clears a
    Python-precomputed hex threshold; both engines compare strings
    only.

    Scale shape: the rate table is a literal broadcast; the corpus
    never shuffles — per-row explode of at most ceil(rate) epochs.
    """
    spark = docs.sparkSession
    if not rates:
        # Empty mixture config keeps nothing; schema inference over an
        # empty row list would crash, so short-circuit with an empty
        # frame of the output shape.
        return (
            docs.select("doc_id", "source")
            .filter(F.lit(False))
            .withColumn("epoch", F.lit(1).cast("long"))
        )
    rates_df = local_frame(
        spark,
        _epoch_rate_rows(rates),
        "source string, n_full bigint, thr string",
    )
    digest = F.substring(keyed_md5("doc_id", "epoch"), 1, 4)
    n_copies = F.col("n_full") + F.when(digest < F.col("thr"), 1).otherwise(0)
    return (
        docs.join(F.broadcast(rates_df), on="source")
        .withColumn("n_copies", n_copies)
        .filter(F.col("n_copies") > 0)
        .select(
            "doc_id",
            "source",
            F.explode(F.sequence(F.lit(1), F.col("n_copies"))).alias(
                "epoch"
            ),
        )
        .withColumn("epoch", F.col("epoch").cast("long"))
    )


def epoch_oversample_sql(rates: dict[str, float]) -> str:
    if not rates:
        return (
            "SELECT doc_id, source, CAST(1 AS BIGINT) AS epoch "
            "FROM documents WHERE FALSE"
        )
    values = ", ".join(
        "('{s}', {n}, '{t}')".format(
            s=s.replace("'", "''"), n=n, t=t  # escape quotes in names
        )
        for s, n, t in _epoch_rate_rows(rates)
    )
    return f"""
WITH rates(source, n_full, thr) AS (VALUES {values}),
j AS (
  SELECT d.doc_id, d.source,
         r.n_full + (CASE WHEN substr(
             {keyed_md5_sql("d.doc_id", "epoch")}, 1, 4) < r.thr
             THEN 1 ELSE 0 END) AS n_copies
  FROM documents d JOIN rates r USING (source)
)
SELECT doc_id, source, CAST(epoch AS BIGINT) AS epoch
FROM (
  SELECT doc_id, source, unnest(range(1, n_copies + 1)) AS epoch
  FROM j WHERE n_copies > 0
)
"""


def source_reputation(docs: DataFrame) -> DataFrame:
    """Source-level reputation filtering (the UT1-blocklist /
    domain-reputation pattern): score every (source, lang) partition by
    its aggregate document quality, then keep only documents from
    reputable partitions.

    Two-level plan: one corpus scan computes per-doc quality (codegen,
    ext/textstats.quality_features), one hash aggregate reduces it to
    per-source statistics, and the verdict joins back onto documents by
    source — the reputation side of the join is tiny (one row per
    source × lang) and broadcasts, so the corpus never shuffles. At
    100 TB this is exactly the shape of domain-level filtering over a
    web crawl: the reputation table is KBs even for millions of
    domains' worth of docs.

    Output: surviving documents with their source's statistics
    attached (doc_id, source, lang, mean_quality, n_docs).
    """
    from .textstats import quality_features

    qual = quality_features(docs).select(
        "doc_id", "quality_score"
    )
    scored = docs.select("doc_id", "source", "lang").join(qual, on="doc_id")
    rep = (
        scored.groupBy("source", "lang")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.round(
                F.sum(F.col("quality_score").cast("decimal(18,6)")).cast(
                    "double"
                )
                / F.count("*"),
                6,
            ).alias("mean_quality"),
        )
        .filter(
            (F.col("n_docs") >= 5)
            & (F.col("mean_quality") >= 0.5)
        )
    )
    return scored.join(F.broadcast(rep), on=["source", "lang"]).select(
        "doc_id", "source", "lang", "mean_quality", "n_docs"
    )


def source_reputation_sql() -> str:
    """DuckDB twin of :func:`source_reputation`."""
    from .textstats import quality_score_sql

    q = quality_score_sql()
    return f"""
WITH scored AS (
  SELECT doc_id, source, lang, {q} AS quality_score FROM documents
), rep AS (
  SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
         ROUND(CAST(SUM(CAST(quality_score AS DECIMAL(18,6))) AS DOUBLE)
               / COUNT(*), 6) AS mean_quality
  FROM scored
  GROUP BY source, lang
  HAVING COUNT(*) >= 5 AND
         ROUND(CAST(SUM(CAST(quality_score AS DECIMAL(18,6))) AS DOUBLE)
               / COUNT(*), 6) >= 0.5
)
SELECT s.doc_id, s.source, s.lang, r.mean_quality, r.n_docs
FROM scored s JOIN rep r ON s.source = r.source AND s.lang = r.lang
"""


# ---------------------------------------------------------------------------
# Cross-source score calibration
# ---------------------------------------------------------------------------


def score_calibration(docs: DataFrame, score_frame: DataFrame) -> DataFrame:
    """Quantile-map each source's score distribution onto the global
    one: calibrated(x | source) = G⁻¹(F_source(x)) — the cross-source
    normalization a mixed-corpus quality gate needs (a 0.7 from a
    lenient scorer and a 0.7 from a strict one mean different things;
    after calibration, equal scores mean equal global quantiles).

    ``score_frame`` must carry (doc_id, score). Both ECDFs live on the
    DISTINCT-score grain, which 6-decimal rounding bounds at 10⁶+1
    rows REGARDLESS of corpus size.

    Shape (one corpus pass + ONE ranking sweep): the per-source ECDFs
    AND the global ECDF come out of a single :func:`with_rank` sweep
    over the union of both grains, the global grain riding along as one
    more group under a non-colliding sentinel key (its per-group
    cumulative count IS the global cumulative count). The G⁻¹ backfill
    then needs NO second sweep: each global row already carries its ECDF
    interval ``(lo, hi] = ((cum-cnt)/N, cum/N]`` from the same
    cumulative counts, and those intervals PARTITION (0, 1] with
    boundaries that are bitwise the neighbouring rows' positions
    (``cum - cnt`` is exact integer arithmetic), so every source-row
    position p maps to exactly one global row via a bucketized interval
    equi-join (bucket = ceil(p·NB); a global row expands to the buckets
    its interval overlaps — Σ spans ≈ NB + |grain| rows, never a
    nested-loop range join). Boundary semantics: p == hi maps to that
    row, matching "smallest global position >= p".

    Every window is DISTRIBUTED. ``src_grain`` feeds the union twice
    (B rows directly, A rows via the per-score re-aggregation); the
    eager pin makes the second read hit the bounded materialized grain,
    not the corpus lineage (AQE does not reliably fold the two branches
    into a ReusedExchange across the union).

    Returns the (source, score) → calibrated mapping table (join it
    back to docs to materialize per-doc scores).
    """
    from ..operators.ranking import with_rank

    joined = docs.select("doc_id", "source").join(score_frame, on="doc_id")
    src_grain = (
        joined.groupBy("source", "score")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        .localCheckpoint(eager=True)
    )
    g_grain = src_grain.groupBy("score").agg(
        F.sum("cnt").cast("long").alias("cnt")
    )
    # One sweep, |sources|+1 groups: real sources rank their own grain
    # (kind B); the sentinel group ranks the global grain (kind A).
    # "\x00global" cannot collide with a real source name (NUL byte).
    union0 = (
        src_grain.select(
            F.lit("B").alias("kind"), "source", "score", "cnt"
        )
        .unionByName(
            g_grain.select(
                F.lit("A").alias("kind"),
                F.lit(None).cast("string").alias("source"),
                "score",
                "cnt",
            )
        )
        .withColumn(
            "_grp",
            # Key the sentinel on ``kind``, not on source alone: a B row
            # with a NULL source must rank as its own "\x00null" group
            # (matching the oracle's PARTITION BY source, where NULL is a
            # distinct partition), never merge into the global A group.
            F.when(F.col("kind") == "A", F.lit("\x00global")).otherwise(
                F.coalesce(F.col("source"), F.lit("\x00null"))
            ),
        )
    )
    ranked, _ = with_rank(
        union0, ["_grp"], ["score"], rank_col="_i", cum_cols=["cnt"]
    )
    # B rows: position p = per-source ECDF. A rows: the interval of the
    # global ECDF this score owns — (lo, hi] partition (0, 1] exactly
    # (lo = previous row's hi bitwise: cum - cnt is integer-exact).
    nb = 8192  # bucket count for the interval equi-join
    b_rows = ranked.filter(F.col("kind") == "B").select(
        "source",
        "score",
        (
            F.col("cum_cnt").cast("double")
            / F.col("total_cnt").cast("double")
        ).alias("pos"),
    )
    a_rows = ranked.filter(F.col("kind") == "A").select(
        F.col("score").cast("double").alias("g"),
        (
            (F.col("cum_cnt") - F.col("cnt")).cast("double")
            / F.col("total_cnt").cast("double")
        ).alias("lo"),
        (
            F.col("cum_cnt").cast("double")
            / F.col("total_cnt").cast("double")
        ).alias("hi"),
    )
    # Bucketize: a global row covers buckets floor(lo*NB)+1..ceil(hi*NB)
    # (superset — the (lo, hi] filter prunes); a source row probes
    # bucket ceil(p*NB). Σ spans ≈ NB + |grain| expanded rows.
    a_exp = a_rows.withColumn(
        "_bkt",
        F.explode(
            F.sequence(
                (F.floor(F.col("lo") * nb) + 1).cast("long"),
                F.ceil(F.col("hi") * nb).cast("long"),
            )
        ),
    )
    b_bkt = b_rows.withColumn(
        "_bkt", F.ceil(F.col("pos") * nb).cast("long")
    )
    return (
        b_bkt.join(a_exp, on="_bkt")
        .filter((F.col("pos") > F.col("lo")) & (F.col("pos") <= F.col("hi")))
        .select(
            "source",
            "score",
            F.round("pos", 6).alias("src_ecdf"),
            F.round("g", 6).alias("calibrated_score"),
        )
    )


def score_calibration_sql(score_expr: str) -> str:
    """DuckDB twin of :func:`score_calibration` over the same score
    expression (same grains, same backfill window)."""
    return f"""
WITH scored AS (
  SELECT doc_id, source, {score_expr} AS score FROM documents
), src_grain AS (
  SELECT source, score, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM scored GROUP BY 1, 2
), s_rows AS (
  SELECT 'B' AS kind, source, score,
         CAST(SUM(cnt) OVER (PARTITION BY source ORDER BY score
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
           / CAST(SUM(cnt) OVER (PARTITION BY source) AS DOUBLE) AS pos,
         CAST(NULL AS DOUBLE) AS g
  FROM src_grain
), g_grain AS (
  SELECT score, CAST(COUNT(*) AS BIGINT) AS cnt FROM scored GROUP BY 1
), g_rows AS (
  SELECT 'A' AS kind, CAST(NULL AS VARCHAR) AS source, score,
         CAST(SUM(cnt) OVER (ORDER BY score
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
           / CAST(SUM(cnt) OVER () AS DOUBLE) AS pos,
         CAST(score AS DOUBLE) AS g
  FROM g_grain
), unioned AS (
  SELECT * FROM s_rows UNION ALL SELECT * FROM g_rows
), filled AS (
  SELECT *,
         last_value(g IGNORE NULLS) OVER (
           ORDER BY pos DESC, kind ASC, COALESCE(source, '') ASC, score ASC
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS calibrated
  FROM unioned
)
SELECT source, score,
       ROUND(pos, 6) AS src_ecdf,
       ROUND(calibrated, 6) AS calibrated_score
FROM filled WHERE kind = 'B'
"""


# ---------------------------------------------------------------------------
# UniMax language-balanced budget allocation
# ---------------------------------------------------------------------------


def unimax_allocation(
    docs: DataFrame, budget_factor: float = 1.5, max_epochs: float = 2.0
) -> DataFrame:
    """UniMax budget allocation (Chung et al., "UniMax: Fairer and More
    Effective Language Sampling for Large-Scale Multilingual
    Pretraining", ICLR 2023): split a total token budget across
    languages as UNIFORMLY as possible subject to a per-language cap of
    ``max_epochs`` repetitions of its corpus — the published fix for
    temperature sampling's head-language bias and tail-language
    over-epoching.

    Closed form instead of the paper's iterative loop: water-filling
    over capacities is prefix-monotone once languages are sorted by
    capacity ascending (if a language's capacity exceeds the uniform
    share of the remaining budget, so does every larger one), so the
    capped set is the longest prefix with
    ``c_i * (L - i + 1) <= B - cumsum_{j<i}(c_j)`` and every uncapped
    language gets ``(B - cumsum_capped) / n_uncapped`` — two window
    passes over the LANGUAGE grain (~10 rows regardless of corpus
    size; the only corpus work is one token-count scan).

    The budget is RELATIONAL — ``budget_factor`` x the corpus's total
    token count, computed in the same window pass — so one static
    DuckDB twin holds at every scale factor (an absolute budget would
    bake a fixture size into the oracle string).

    Returns (lang, n_tokens, capacity, alloc_tokens, epochs, capped),
    alloc summing to min(budget, total capacity).
    """
    n_tok = F.size(F.filter(F.split(F.col("text"), " "), lambda x: x != ""))
    grain = (
        fan_out(docs)
        .groupBy(F.col("lang").alias("lang"))
        .agg(F.sum(n_tok.cast("long")).cast("long").alias("n_tokens"))
        .withColumn(
            "capacity", F.col("n_tokens").cast("double") * F.lit(max_epochs)
        )
    )
    w_ord = Window.orderBy("capacity", "lang")
    w_all = w_ord.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    w_cum = w_ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ranked = grain.select(
        "lang",
        "n_tokens",
        "capacity",
        F.row_number().over(w_ord).alias("rn"),
        F.count(F.lit(1)).over(w_all).alias("L"),
        F.sum("capacity").over(w_cum).alias("cum"),
        (
            F.sum("n_tokens").over(w_all).cast("double")
            * F.lit(float(budget_factor))
        ).alias("_b"),
    )
    b = F.col("_b")
    fits = (
        F.col("capacity") * (F.col("L") - F.col("rn") + 1)
        <= b - (F.col("cum") - F.col("capacity"))
    )
    flagged = ranked.withColumn("_fits", fits)
    # longest capped prefix: k = min(rn where NOT fits) - 1, else L
    k = F.coalesce(
        F.min(F.when(~F.col("_fits"), F.col("rn"))).over(w_all) - 1,
        F.col("L"),
    )
    cum_k = F.coalesce(
        F.max(F.when(F.col("rn") <= k, F.col("cum"))).over(w_all), F.lit(0.0)
    )
    alloc = F.when(F.col("rn") <= k, F.col("capacity")).otherwise(
        (b - cum_k) / (F.col("L") - k)
    )
    return flagged.select(
        "lang",
        "n_tokens",
        "capacity",
        F.round(alloc, 4).alias("alloc_tokens"),
        # try_divide: a language whose documents are all empty has
        # n_tokens = 0 (capacity 0, capped first) — plain division
        # throws DIVIDE_BY_ZERO under ANSI while the DuckDB twin's /0
        # is NULL natively.
        F.round(F.try_divide(alloc, F.col("n_tokens")), 6).alias("epochs"),
        (F.col("rn") <= k).alias("capped"),
    )


def unimax_allocation_sql(
    budget_factor: float = 1.5, max_epochs: float = 2.0
) -> str:
    """DuckDB twin of :func:`unimax_allocation` — identical capacity
    arithmetic, prefix test, and uniform-share division."""
    n_tok = "len(list_filter(string_split(text, ' '), x -> x <> ''))"
    return f"""
WITH grain AS (
  SELECT lang AS lang,
         CAST(SUM(CAST({n_tok} AS BIGINT)) AS BIGINT) AS n_tokens
  FROM documents GROUP BY 1
), ranked AS (
  SELECT lang, n_tokens,
         CAST(n_tokens AS DOUBLE) * {max_epochs} AS capacity,
         ROW_NUMBER() OVER (ORDER BY CAST(n_tokens AS DOUBLE) * {max_epochs}, lang) AS rn,
         COUNT(*) OVER () AS L,
         SUM(CAST(n_tokens AS DOUBLE) * {max_epochs}) OVER (
           ORDER BY CAST(n_tokens AS DOUBLE) * {max_epochs}, lang
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
         CAST(SUM(n_tokens) OVER () AS DOUBLE) * {float(budget_factor)} AS _b
  FROM grain
), flagged AS (
  SELECT *,
         capacity * (L - rn + 1) <= _b - (cum - capacity)
           AS _fits
  FROM ranked
), kk AS (
  SELECT *,
         COALESCE(MIN(CASE WHEN NOT _fits THEN rn END) OVER () - 1, L) AS k
  FROM flagged
), ck AS (
  SELECT *,
         COALESCE(MAX(CASE WHEN rn <= k THEN cum END) OVER (), 0.0) AS cum_k
  FROM kk
)
SELECT lang, n_tokens, capacity,
       ROUND(CASE WHEN rn <= k THEN capacity
                  ELSE (_b - cum_k) / (L - k) END,
             4) AS alloc_tokens,
       ROUND(CASE WHEN rn <= k THEN capacity
                  ELSE (_b - cum_k) / (L - k) END
             / n_tokens, 6) AS epochs,
       rn <= k AS capped
FROM ck
"""
