"""Exact set-similarity join via prefix filtering (PPJoin-style,
Xiao/Wang/Lin/Yu WWW 2008; Chaudhuri/Ganti/Kaushik ICDE 2006) — the
EXACT complement to the probabilistic candidate generators in
ext/dedup.py.

MinHash-LSH banding (ext/dedup.py::lsh_candidate_pairs) trades recall
for speed: a near-dup pair can miss every band. Prefix filtering has
no false negatives: order the token universe globally (rarest first),
keep only each document's first ``|d| - ceil(t*|d|) + 1`` tokens (the
*prefix*), and any pair with token-Jaccard >= t provably shares at
least one prefix token — so joining on prefix tokens yields a
candidate superset, and verifying exact Jaccard on the candidates
yields the exact join result. Rarest-first ordering makes prefixes
collide as little as the corpus allows.

Scale posture (100 TB):
- Candidate volume is bounded by the sum of squared prefix-token
  bucket sizes — rare tokens dominate prefixes, so buckets are small
  on natural corpora. The degenerate corpus (N identical boilerplate
  docs → identical prefixes) is bounded by the same keeper-star cap
  the LSH/Jaccard generators use (``bucket_cap``). The cap is the
  exactness dial, with PRECISE semantics: if no prefix bucket exceeds
  the cap the join is EXACT; an over-cap bucket contributes only its
  keeper's pairs, and because this operator verifies inline, a pair
  confined to over-cap buckets whose keeper fails verification is
  LOST (recall loss, not just thinning). In the flood case the cap
  targets — one identical family owning the bucket — the keeper IS a
  family member, its star verifies at J=1, and the family stays one
  connected component; a mixed over-cap bucket holding several
  distinct families can split all but the keeper's. Size the cap to
  the corpus's largest legitimate near-dup family (it bounds one
  task's pair fan-out, the same memory law as the other pair
  generators).
- Candidates come from one aggregation on the prefix token: each
  bucket collects its sorted (doc_id, sz) list and emits its pairs
  through ext/dedup.py::bucket_pairs, one anchor per row, so a row
  holds O(bucket) values, never a C(n,2) array.
- All thresholds are evaluated in EXACT integer arithmetic
  (t = t_num/t_den): ``ceil(t*s) = (t_num*s + t_den - 1) div t_den``,
  size filter ``s_min*t_den >= s_max*t_num``, verify
  ``inter*t_den >= union*t_num`` — no float boundary drift between
  engines or partitionings.

Oracle twin: :func:`prefix_jaccard_sql` replays the pipeline —
ordering, prefix arithmetic, cap keeper-star, exact verify — in
DuckDB SQL.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .dedup import bucket_pairs
from .textstats import tokens_col

DEFAULT_BUCKET_CAP = 1024


def token_sets(docs: DataFrame) -> DataFrame:
    """(doc_id, tokens, sz): each document's DISTINCT tokens as an
    array ordered rarest-first (global document frequency asc, token
    asc — a total order, so every engine and partitioning produces the
    same array), plus the set size."""
    toks = docs.select(
        "doc_id",
        F.explode(F.array_distinct(tokens_col(F.col("text")))).alias(
            "token"
        ),
    )
    df = toks.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    return (
        toks.join(df, on="token")
        .groupBy("doc_id")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("df", "token"))),
                lambda x: x["token"],
            ).alias("tokens")
        )
        .withColumn("sz", F.size("tokens"))
    )


def _prefix_len(sz, t_num: int, t_den: int):
    # |d| - ceil(t*|d|) + 1, all-integer: ceil(a/b) = (a + b - 1) // b
    # via operators.ranking._floordiv — (x - x mod b) / b, whose
    # numerator is an exact multiple of b, so the division is exact
    # integer arithmetic end to end, matching the DuckDB twin's `//`
    # (advisor round-11: the previous double-divide-then-cast was
    # exact below 2^53 but weakened the no-float-drift guarantee).
    from ..operators.ranking import _floordiv

    num = F.lit(t_num) * sz.cast("long") + F.lit(t_den - 1)
    return sz - _floordiv(num, F.lit(t_den)) + 1


def prefix_jaccard_join(
    docs: DataFrame,
    t_num: int = 6,
    t_den: int = 10,
    bucket_cap: int = DEFAULT_BUCKET_CAP,
) -> DataFrame:
    """All document pairs with token-set Jaccard >= t_num/t_den —
    EXACT (no false negatives, unlike LSH banding) for every prefix
    bucket within ``bucket_cap``; above the cap a bucket degrades to
    keeper-star pairs (the family-standard degenerate-corpus bound).
    Returns (doc_a, doc_b, inter, sz_a, sz_b, jaccard), doc_a < doc_b.

    The token-set frame has three references (the prefix buckets and
    both verify sides) and no localCheckpoint pin, so the builder runs
    no job: the final adaptive plan computes it twice, and the two
    verify sides share one exchange.
    """
    sets = token_sets(docs)
    prefix = sets.select(
        "doc_id",
        "sz",
        F.explode(
            F.slice(F.col("tokens"), 1, _prefix_len(F.col("sz"), t_num, t_den))
        ).alias("token"),
    )
    grouped = prefix.groupBy("token").agg(
        F.array_sort(F.collect_list(F.struct("doc_id", "sz"))).alias("ids")
    )
    cand = (
        bucket_pairs(grouped, bucket_cap)
        # size filter: Jaccard >= t needs t*|bigger| <= |smaller|, exact
        .filter(
            F.least("a.sz", "b.sz") * t_den
            >= F.greatest("a.sz", "b.sz") * t_num
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    ta = sets.select(F.col("doc_id").alias("doc_a"), F.col("tokens").alias("toks_a"), F.col("sz").alias("sz_a"))
    tb = sets.select(F.col("doc_id").alias("doc_b"), F.col("tokens").alias("toks_b"), F.col("sz").alias("sz_b"))
    verified = (
        cand.join(ta, on="doc_a")
        .join(tb, on="doc_b")
        .withColumn(
            "inter",
            F.size(F.array_intersect("toks_a", "toks_b")).cast("long"),
        )
        .withColumn(
            "uni", (F.col("sz_a") + F.col("sz_b") - F.col("inter")).cast("long")
        )
        # exact threshold: inter/union >= t_num/t_den
        .filter(F.col("inter") * t_den >= F.col("uni") * t_num)
    )
    return verified.select(
        "doc_a",
        "doc_b",
        "inter",
        F.col("sz_a").cast("long").alias("sz_a"),
        F.col("sz_b").cast("long").alias("sz_b"),
        (F.col("inter") / F.col("uni")).alias("jaccard"),
    )


def prefix_jaccard_sql(t_num: int = 6, t_den: int = 10) -> str:
    """DuckDB oracle replaying :func:`prefix_jaccard_join` end to end:
    rarest-first ordering, integer prefix arithmetic, cap keeper-star,
    size filter, exact integer Jaccard verify."""
    return f"""
WITH toks AS (
  SELECT doc_id,
         unnest(list_distinct(
           list_filter(string_split(text, ' '), t -> t <> '')
         )) AS token
  FROM documents
), dfreq AS (
  SELECT token, COUNT(*) AS df FROM toks GROUP BY token
), sets AS (
  SELECT t.doc_id,
         list(t.token ORDER BY d.df, t.token) AS tokens,
         COUNT(*) AS sz
  FROM toks t JOIN dfreq d USING (token)
  GROUP BY t.doc_id
), prefix AS (
  SELECT doc_id, sz,
         unnest(tokens[1:(
           sz - (({t_num}*sz + {t_den - 1}) // {t_den}) + 1
         )::BIGINT]) AS token
  FROM sets
), bucketed AS (
  SELECT doc_id, sz, token,
         COUNT(*) OVER (PARTITION BY token) AS bsz,
         MIN(doc_id) OVER (PARTITION BY token) AS keeper
  FROM prefix
), cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bucketed a JOIN bucketed b
    ON a.token = b.token AND a.doc_id < b.doc_id
  WHERE (a.bsz <= {DEFAULT_BUCKET_CAP} OR a.doc_id = a.keeper)
    AND LEAST(a.sz, b.sz) * {t_den} >= GREATEST(a.sz, b.sz) * {t_num}
)
SELECT c.doc_a, c.doc_b,
       len(list_intersect(sa.tokens, sb.tokens))::BIGINT AS inter,
       sa.sz::BIGINT AS sz_a, sb.sz::BIGINT AS sz_b,
       len(list_intersect(sa.tokens, sb.tokens))::DOUBLE
         / (sa.sz + sb.sz - len(list_intersect(sa.tokens, sb.tokens)))
         AS jaccard
FROM cand c
JOIN sets sa ON sa.doc_id = c.doc_a
JOIN sets sb ON sb.doc_id = c.doc_b
WHERE len(list_intersect(sa.tokens, sb.tokens)) * {t_den}
      >= (sa.sz + sb.sz - len(list_intersect(sa.tokens, sb.tokens)))
         * {t_num}
"""
