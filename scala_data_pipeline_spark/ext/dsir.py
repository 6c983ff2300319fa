"""DSIR: Data Selection via Importance Resampling (Xie, Santurkar,
Ma, Liang — "Data Selection for Language Models via Importance
Resampling", NeurIPS 2023).

Select raw-corpus documents that LOOK LIKE a target distribution: fit
hashed unigram bag-of-words models of the target and the raw corpus,
weight every raw document by its log importance ratio
``log p̂_target(doc) − log p̂_raw(doc) = Σ_tokens log(p̂_t(b)/p̂_r(b))``
over hashed token buckets, and resample with Gumbel-top-k (sampling
without replacement with probability ∝ exp(weight) is adding an
independent Gumbel to each weight and taking the top k).

Spark shape — the canonical two-pass fit-then-apply:

1. pass 1 (fit): one corpus scan aggregates hashed-bucket counts for
   raw and target simultaneously (the target is a predicate over the
   same table — one scan, two conditional sums), yielding a
   ``n_buckets``-row model with add-1-smoothed log ratios — BOUNDED,
   broadcast to pass 2;
2. pass 2 (apply): one corpus scan re-tokenizes and sums each doc's
   per-token log ratios against the broadcast model. Two scans is the
   algorithm's true shape (the model must exist before scoring), not
   an accident.

Cross-engine determinism (every piece has an in-repo precedent):
token→bucket is md5-hex→int (``countmin`` precedent, no engine-native
hash mismatch); per-bucket log ratios are rounded to 8dp; per-token
contributions sum as DECIMAL(18,8) — exact, order-independent
(``text_source_divergence`` precedent); the Gumbel key derives from
md5(doc_id) exactly like ``weighted_sample``'s A-ES priority. The
whole operator therefore carries a full DuckDB oracle twin — no
rows-only concession.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .textstats import tokens_col

N_BUCKETS = 4096
_U52 = 16**13 + 1  # md5 13-hex-digit prefix → uniform (0, 1)


def _bucket(token: Column, n_buckets: int) -> Column:
    """Hashed-vocabulary bucket: md5 first 8 hex digits → long → mod.
    Engine-portable (DuckDB computes the identical bytes)."""
    return (
        F.conv(F.substring(F.md5(token), 1, 8), 16, 10).cast("long")
        % n_buckets
    )


def _bucket_sql(token_expr: str, n_buckets: int) -> str:
    return (
        f"CAST(concat('0x', substr(md5({token_expr}), 1, 8)) AS BIGINT)"
        f" % {n_buckets}"
    )


def dsir_weights(
    docs: DataFrame,
    target: Column,
    n_buckets: int = N_BUCKETS,
    text_col: str = "text",
) -> DataFrame:
    """(doc_id, n_tokens, weight) for every document with ≥1 token:
    weight = Σ_tokens round(log(p̂_target(b)) − log(p̂_raw(b)), 8),
    summed exactly in decimal, reported at 6dp. ``target`` is a boolean
    Column over ``docs``' columns selecting the target subset.

    Both passes run over a SHARED (doc_id, bucket, count) frame —
    aggregated from one tokenize+hash sweep and localCheckpoint'd, so
    the corpus is scanned, split, and md5-hashed ONCE instead of once
    per pass (round-13 10x artifact: the two-pass form's 6.5x decade
    ratio was dominated by the repeated token sweep; the bucket frame is ≤ min(tokens, 4096/doc) rows per doc —
    far smaller than the token grain it replaces). Per-token Σlr over
    a doc equals Σ_b cnt·lr with lr pre-rounded at 8dp, so the
    weights are bit-identical to the per-token form and the DuckDB
    twin."""
    toks = docs.select(
        "doc_id",
        target.alias("_tgt"),
        F.explode(tokens_col(F.col(text_col))).alias("token"),
    ).withColumn("b", _bucket(F.col("token"), n_buckets))

    # Shared bucket-grain frame: partial-aggregates map-side, then one
    # shuffle on (doc_id, b); _tgt is constant per doc_id.
    # localCheckpoint, not persist: released when the Python frame is
    # GC'd (the queries/matrix.py precedent).
    bt = (
        toks.groupBy("doc_id", "_tgt", "b")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        .localCheckpoint(eager=False)
    )

    # Pass 1 — fit both hashed unigram models in ONE aggregate.
    model = bt.groupBy("b").agg(
        F.sum("cnt").cast("long").alias("r_cnt"),
        F.sum(F.when(F.col("_tgt"), F.col("cnt")).otherwise(0))
        .cast("long")
        .alias("t_cnt"),
    )
    totals = model.agg(
        F.sum("r_cnt").cast("long").alias("r_tot"),
        F.sum("t_cnt").cast("long").alias("t_tot"),
    )
    # add-1 smoothing over the full hashed vocabulary
    lr = model.crossJoin(F.broadcast(totals)).select(
        "b",
        F.round(
            F.log(
                (F.col("t_cnt") + 1).cast("double")
                / (F.col("t_tot") + n_buckets).cast("double")
            )
            - F.log(
                (F.col("r_cnt") + 1).cast("double")
                / (F.col("r_tot") + n_buckets).cast("double")
            ),
            8,
        )
        .cast("decimal(18,8)")
        .alias("lr"),
    )

    # Pass 2 — score each document against the broadcast model, from
    # the same bucket frame (cnt-weighted decimal sum == per-token sum).
    return (
        bt.join(F.broadcast(lr), on="b")
        .groupBy("doc_id")
        .agg(
            F.sum("cnt").cast("long").alias("n_tokens"),
            # cnt cast to a NARROW decimal: lr decimal(18,8) * a bare
            # LONG promotes to decimal(20,0) and overflows precision 38,
            # where Spark silently drops the product to scale 7 —
            # off-by-1e-6 vs the per-token oracle. (18,8)x(10,0) stays
            # exact at scale 8.
            F.round(
                F.sum(
                    F.col("lr") * F.col("cnt").cast("decimal(10,0)")
                ).cast("double"),
                6,
            ).alias("weight"),
        )
    )


def dsir_weights_sql(
    target_pred: str,
    n_buckets: int = N_BUCKETS,
    text_expr: str = "text",
    table: str = "documents",
) -> str:
    """DuckDB twin of :func:`dsir_weights` — identical hashing,
    smoothing, rounding, and decimal summation."""
    b = _bucket_sql("token", n_buckets)
    return f"""
WITH toks AS (
  SELECT doc_id, ({target_pred}) AS _tgt,
         unnest(list_filter(string_split({text_expr}, ' '),
                            t -> t <> '')) AS token
  FROM {table}
), bt AS (
  SELECT doc_id, _tgt, {b} AS b FROM toks
), model AS (
  SELECT b, CAST(COUNT(*) AS BIGINT) AS r_cnt,
         CAST(COUNT(*) FILTER (WHERE _tgt) AS BIGINT) AS t_cnt
  FROM bt GROUP BY 1
), totals AS (
  SELECT CAST(SUM(r_cnt) AS BIGINT) AS r_tot,
         CAST(SUM(t_cnt) AS BIGINT) AS t_tot
  FROM model
), lr AS (
  SELECT b,
         CAST(ROUND(
           ln(CAST(t_cnt + 1 AS DOUBLE) / CAST(t_tot + {n_buckets} AS DOUBLE))
           - ln(CAST(r_cnt + 1 AS DOUBLE) / CAST(r_tot + {n_buckets} AS DOUBLE)),
         8) AS DECIMAL(18,8)) AS lr
  FROM model CROSS JOIN totals
)
SELECT bt.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_tokens,
       ROUND(CAST(SUM(lr.lr) AS DOUBLE), 6) AS weight
FROM bt JOIN lr ON lr.b = bt.b
GROUP BY 1
"""


def dsir_sample(
    docs: DataFrame,
    target: Column,
    k: int = 50,
    tau: float = 1.0,
    n_buckets: int = N_BUCKETS,
    text_col: str = "text",
    salt: str = "dsir",
) -> DataFrame:
    """Gumbel-top-k resampling over the importance weights: key =
    weight/tau + Gumbel(md5(doc_id)) — sampling WITHOUT replacement
    with probability ∝ exp(weight/tau), fully deterministic (the
    Gumbel noise is a pure function of doc_id and salt). Returns the k
    selected docs with their weights and keys."""
    w = dsir_weights(docs, target, n_buckets=n_buckets, text_col=text_col)
    digest = F.md5(F.concat(F.lit(salt), F.col("doc_id").cast("string")))
    u = (
        F.conv(F.substring(digest, 1, 13), 16, 10).cast("long") + 1
    ) / F.lit(float(_U52))
    gumbel = F.round(-F.log(-F.log(u)), 6)
    return (
        w.withColumn(
            "key", F.round(F.col("weight") / tau + gumbel, 6)
        )
        .orderBy(F.col("key").desc(), F.col("doc_id").asc())
        .limit(k)
        .select("doc_id", "n_tokens", "weight", "key")
    )


def dsir_sample_sql(
    target_pred: str,
    k: int = 50,
    tau: float = 1.0,
    n_buckets: int = N_BUCKETS,
    text_expr: str = "text",
    table: str = "documents",
    salt: str = "dsir",
) -> str:
    digest = f"md5('{salt}' || CAST(w.doc_id AS VARCHAR))"
    u = (
        f"(CAST(concat('0x', substr({digest}, 1, 13)) AS BIGINT) + 1)"
        f" / {float(_U52)!r}"
    )
    inner = dsir_weights_sql(
        target_pred, n_buckets=n_buckets, text_expr=text_expr, table=table
    )
    return f"""
WITH w AS ({inner})
SELECT w.doc_id, w.n_tokens, w.weight,
       ROUND(w.weight / {float(tau)!r} + ROUND(-ln(-ln({u})), 6), 6) AS key
FROM w
ORDER BY key DESC, w.doc_id ASC
LIMIT {k}
"""
