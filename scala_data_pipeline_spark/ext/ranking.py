"""Retrieval evaluation: nDCG@k / MRR / AP@k / P@k / recall@k over
multi-query BM25 rankings against exact term-containment relevance.

The missing leg of the retrieval stack: the repo already BUILDS ranked
retrieval (bm25_scores, topk_bruteforce/IVF, rrf_fusion, mmr_rerank)
and AUDITS candidate generation (lsh_quality_metrics, recall audit) —
this module measures end-to-end ranking QUALITY with the standard IR
metrics (nDCG: Järvelin & Kekäläinen, TOIS 2002; MRR: Voorhees, TREC-8;
AP: the classic TREC measure). In a training-data pipeline this is the
eval harness for retrieval-based decontamination and dedup candidate
ranking: "did the cheap ranker put the true matches on top?".

Scale shape: ONE corpus scan computes per-document term frequencies for
the union of all query terms (per-row array expressions — codegen, no
explode); corpus stats (N, avgdl, per-term df) are one broadcast
one-row aggregate; each document then emits one (query, score, rel)
row per query via an explode of a Q-element array. Ranking and the
corpus-wide relevant-count share ONE shuffle keyed on query_id (two
Window operators over the same sort), and the metric aggregation runs
over Q·k rows. The query_id partition is inherently Q-way — an eval
over few queries concentrates on few tasks by definition; for large
query batches the same plan spreads (uniform hash keys), and candidates
could be pre-filtered to score > 0 to cut the sort input.

Engine-exactness (house style): BM25 inputs are exact integers, scores
are rounded to 6 before ranking (ties broken by doc_id, so ranks are
engine-independent); every per-rank metric term (1/log2(r+1),
cum_rel/r) is rounded to 8 decimals and decimal(18,8)-summed
(order-independent); final metrics rounded to 6. The DuckDB twin
replays the identical expression order.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .textstats import BM25_B, BM25_K1, tokens_col
from .util import fan_out

# Fixed evaluation queries over the synthetic documents vocabulary:
# one broad 3-term, one rare-term ("dup" appears in ~5% of docs), one
# wide 4-term conjunction. Binary relevance = document contains EVERY
# query term (exact AND-containment — the ground truth a retrieval
# decontamination pass needs).
EVAL_QUERIES: dict[str, tuple[str, ...]] = {
    "q_broad": ("spark", "join", "fast"),
    "q_rare": ("dup", "table"),
    "q_wide": ("vector", "window", "sort", "group"),
}
RANK_K = 20


def _round8_dec(col: Column) -> Column:
    return F.round(col, 8).cast("decimal(18,8)")


def retrieval_eval(
    docs: DataFrame,
    queries: dict[str, tuple[str, ...]] | None = None,
    k: int = RANK_K,
) -> DataFrame:
    """Per-query IR metrics of BM25 top-``k`` rankings vs exact
    AND-term-containment relevance. Returns one row per query:
    (query_id, n_rel, hits_at_k, ndcg_at_k, mrr, ap_at_k, p_at_k,
    recall_at_k)."""
    queries = EVAL_QUERIES if queries is None else queries
    all_terms = sorted({t for ts in queries.values() for t in ts})
    idx = {t: i for i, t in enumerate(all_terms)}
    toks = tokens_col(F.col("text"))

    def _tf(term: str) -> Column:
        return F.size(F.filter(toks, lambda x: x == F.lit(term)))

    per_doc = fan_out(docs).select(
        "doc_id",
        F.size(toks).cast("long").alias("dl"),
        *[
            _tf(t).cast("long").alias(f"tf_{i}")
            for i, t in enumerate(all_terms)
        ],
    )
    stats = per_doc.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.avg("dl").alias("avgdl"),
        *[
            F.sum((F.col(f"tf_{i}") > 0).cast("long")).alias(f"df_{i}")
            for i in range(len(all_terms))
        ],
    )
    k1, b = BM25_K1, BM25_B
    entries = []
    for qid in sorted(queries):
        comps: list[Column] = []
        rel = F.lit(True)
        for t in queries[qid]:
            i = idx[t]
            idf = F.log(
                (F.col("n_docs") - F.col(f"df_{i}") + 0.5)
                / (F.col(f"df_{i}") + 0.5)
                + 1
            )
            tf = F.col(f"tf_{i}").cast("double")
            comps.append(
                idf
                * (tf * (k1 + 1))
                / (tf + k1 * (1 - b + b * F.col("dl") / F.col("avgdl")))
            )
            rel = rel & (F.col(f"tf_{i}") > 0)
        total = comps[0]
        for c in comps[1:]:
            total = total + c
        entries.append(
            F.struct(
                F.lit(qid).alias("query_id"),
                F.round(total, 6).alias("score"),
                rel.cast("int").alias("rel"),
            )
        )
    scored = (
        per_doc.crossJoin(F.broadcast(stats))
        .select("doc_id", F.explode(F.array(*entries)).alias("e"))
        .select("doc_id", "e.query_id", "e.score", "e.rel")
    )
    # n_rel (corpus-wide) and the ranking share one query_id shuffle:
    # two Window operators over the same exchange, no second corpus pass
    w_all = Window.partitionBy("query_id")
    w_rank = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("doc_id").asc()
    )
    ranked = (
        scored.withColumn("n_rel", F.sum("rel").over(w_all))
        .withColumn("rank", F.row_number().over(w_rank))
        .filter(F.col("rank") <= k)
    )
    w_cum = Window.partitionBy("query_id").orderBy("rank")
    ranked = ranked.withColumn("cum_rel", F.sum("rel").over(w_cum))
    discount = F.lit(1.0) / F.log2(F.col("rank") + 1)
    agg = ranked.groupBy("query_id").agg(
        F.first("n_rel").cast("long").alias("n_rel"),
        F.sum("rel").cast("long").alias("hits_at_k"),
        F.sum(
            F.when(F.col("rel") == 1, _round8_dec(discount)).otherwise(
                F.lit(None)
            )
        )
        .cast("double")
        .alias("dcg"),
        F.sum(
            F.when(
                F.col("rel") == 1,
                _round8_dec(F.col("cum_rel") / F.col("rank")),
            ).otherwise(F.lit(None))
        )
        .cast("double")
        .alias("ap_num"),
        F.min(F.when(F.col("rel") == 1, F.col("rank"))).alias("first_rel"),
    )
    lim = F.least(F.col("n_rel"), F.lit(k))
    # ideal DCG: the same rounded-discount decimal sum over ranks
    # 1..min(n_rel, k), built from a sequence (no extra scan)
    idcg = F.aggregate(
        F.sequence(F.lit(1), lim),
        F.lit(0).cast("decimal(18,8)"),
        # re-cast per step: decimal + decimal widens to (19,8) and the
        # fold accumulator type must stay fixed; 20 terms < 1e10 so the
        # narrowing cast can never overflow
        lambda acc, r: (
            acc + _round8_dec(F.lit(1.0) / F.log2(r.cast("double") + 1))
        ).cast("decimal(18,8)"),
    ).cast("double")
    return agg.select(
        "query_id",
        "n_rel",
        "hits_at_k",
        F.when(F.col("n_rel") > 0, F.round(F.coalesce(F.col("dcg"), F.lit(0.0)) / idcg, 6))
        .otherwise(F.lit(0.0))
        .alias("ndcg_at_k"),
        F.round(
            F.coalesce(F.lit(1.0) / F.col("first_rel"), F.lit(0.0)), 6
        ).alias("mrr"),
        F.when(
            F.col("n_rel") > 0,
            F.round(F.coalesce(F.col("ap_num"), F.lit(0.0)) / lim, 6),
        )
        .otherwise(F.lit(0.0))
        .alias("ap_at_k"),
        F.round(F.col("hits_at_k") / F.lit(float(k)), 6).alias("p_at_k"),
        F.when(
            F.col("n_rel") > 0,
            F.round(F.col("hits_at_k") / F.col("n_rel"), 6),
        )
        .otherwise(F.lit(0.0))
        .alias("recall_at_k"),
    )


def retrieval_eval_sql() -> str:
    """DuckDB twin of :func:`retrieval_eval` — identical score/metric
    arithmetic in identical expression order."""
    all_terms = sorted({t for ts in EVAL_QUERIES.values() for t in ts})
    idx = {t: i for i, t in enumerate(all_terms)}
    t_expr = "list_filter(string_split(text, ' '), x -> x <> '')"
    tf_cols = ",\n         ".join(
        f"CAST(len(list_filter(toks, x -> x = '{t}')) AS BIGINT) AS tf_{i}"
        for i, t in enumerate(all_terms)
    )
    df_cols = ",\n         ".join(
        f"SUM(CASE WHEN tf_{i} > 0 THEN 1 ELSE 0 END) AS df_{i}"
        for i in range(len(all_terms))
    )
    q_selects = []
    for qid in sorted(EVAL_QUERIES):
        comps = " + ".join(
            f"(ln((n_docs - df_{idx[t]} + 0.5) / (df_{idx[t]} + 0.5) + 1)"
            f" * (CAST(tf_{idx[t]} AS DOUBLE) * {BM25_K1 + 1})"
            f" / (CAST(tf_{idx[t]} AS DOUBLE)"
            f" + {BM25_K1} * (1 - {BM25_B} + {BM25_B} * dl / avgdl)))"
            for t in EVAL_QUERIES[qid]
        )
        rel = " AND ".join(f"tf_{idx[t]} > 0" for t in EVAL_QUERIES[qid])
        q_selects.append(
            f"  SELECT doc_id, '{qid}' AS query_id,\n"
            f"         ROUND({comps}, 6) AS score,\n"
            f"         CASE WHEN {rel} THEN 1 ELSE 0 END AS rel\n"
            "  FROM per_doc, stats"
        )
    scored = "\n  UNION ALL\n".join(q_selects)
    return f"""
WITH per_doc AS (
  SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl,
         {tf_cols}
  FROM (SELECT doc_id, {t_expr} AS toks FROM documents)
), stats AS (
  SELECT COUNT(*) AS n_docs, AVG(dl) AS avgdl,
         {df_cols}
  FROM per_doc
), scored AS (
{scored}
), ranked AS (
  SELECT *,
         SUM(rel) OVER (PARTITION BY query_id) AS n_rel,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY score DESC, doc_id ASC) AS rank
  FROM scored
), topk AS (
  SELECT *,
         SUM(rel) OVER (PARTITION BY query_id ORDER BY rank
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cum_rel
  FROM ranked WHERE rank <= {RANK_K}
), agg AS (
  SELECT query_id,
         CAST(MIN(n_rel) AS BIGINT) AS n_rel,
         CAST(SUM(rel) AS BIGINT) AS hits_at_k,
         CAST(SUM(CASE WHEN rel = 1 THEN CAST(ROUND(1.0 / log2(rank + 1), 8)
                            AS DECIMAL(18,8)) END) AS DOUBLE) AS dcg,
         CAST(SUM(CASE WHEN rel = 1 THEN
                   CAST(ROUND(CAST(cum_rel AS DOUBLE) / rank, 8)
                        AS DECIMAL(18,8)) END) AS DOUBLE) AS ap_num,
         MIN(CASE WHEN rel = 1 THEN rank END) AS first_rel
  FROM topk GROUP BY query_id
)
SELECT query_id, n_rel, hits_at_k,
       CASE WHEN n_rel > 0 THEN
         ROUND(COALESCE(dcg, 0.0) / CAST(list_sum(list_transform(
           range(1, LEAST(n_rel, {RANK_K}) + 1),
           r -> CAST(ROUND(1.0 / log2(r + 1), 8) AS DECIMAL(18,8))))
           AS DOUBLE), 6)
       ELSE 0.0 END AS ndcg_at_k,
       ROUND(COALESCE(1.0 / first_rel, 0.0), 6) AS mrr,
       CASE WHEN n_rel > 0 THEN
         ROUND(COALESCE(ap_num, 0.0) / LEAST(n_rel, {RANK_K}), 6)
       ELSE 0.0 END AS ap_at_k,
       ROUND(CAST(hits_at_k AS DOUBLE) / {float(RANK_K)}, 6) AS p_at_k,
       CASE WHEN n_rel > 0 THEN
         ROUND(CAST(hits_at_k AS DOUBLE) / n_rel, 6)
       ELSE 0.0 END AS recall_at_k
FROM agg
"""
