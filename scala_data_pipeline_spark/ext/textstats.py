"""Text analysis operators: language-ID, quality scoring, token
counting, document fingerprinting. All JVM-side built-ins (regex,
higher-order array functions, hash aggregates) — no Python in the hot
path, so the full corpus scan stays in whole-stage codegen at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .util import fan_out

ENGLISH_STOPWORDS = (
    "the", "a", "of", "and", "to", "in", "is", "it", "for", "on",
)

# Disjoint marker-word lists for the n-gram language heuristic.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "is"),
    "de": ("der", "die", "das", "und", "ist"),
    "fr": ("le", "et", "les", "une", "est"),
    "es": ("los", "por", "como", "para", "esta"),
    "zh": (),  # no latin markers; scores 0 → never argmax under ties
}
LANG_ORDER = ("en", "de", "fr", "es", "zh")


def tokens_col(text: Column) -> Column:
    return F.filter(F.split(text, " "), lambda t: t != "")


def quality_score_col(text: Column) -> Column:
    """The [0,1] quality score as a bare column expression — identical
    branch-for-branch to the score :func:`quality_features` emits, so
    pipelines that only need the gate can append it in place instead of
    self-joining the feature frame back on doc_id (r19: the corpus
    export chain paid that join once per branch)."""
    toks = tokens_col(text)
    n_tokens = F.size(toks)
    n_stop = F.size(F.filter(toks, lambda t: t.isin(*ENGLISH_STOPWORDS)))
    stop_ratio = F.round(F.try_divide(n_stop, n_tokens), 6)
    return F.when(
        (n_tokens == 0) | n_tokens.isNull(), F.lit(0.0)
    ).otherwise(
        F.round(
            F.least(
                F.lit(1.0),
                (n_tokens / F.lit(50.0)) * 0.5 + stop_ratio * 2.0,
            ),
            6,
        )
    )


def quality_features(docs: DataFrame) -> DataFrame:
    """Per-document quality stats: char/token counts (whitespace + a
    regex word tokenizer), average token length, stopword ratio, and a
    [0,1] quality score."""
    text = F.col("text")
    toks = tokens_col(text)
    n_tokens = F.size(toks)
    n_stop = F.size(F.filter(toks, lambda t: t.isin(*ENGLISH_STOPWORDS)))
    # try_divide throughout (round-13 review): a zero-token document
    # threw DIVIDE_BY_ZERO under Spark 4 ANSI here while every other
    # ratio in this file was already guarded; NULL ratios match the
    # DuckDB twin, whose /0 is NULL natively.
    stop_ratio = F.round(F.try_divide(n_stop, n_tokens), 6)
    avg_tok = F.round(
        F.try_divide(F.length(text) - (n_tokens - 1), n_tokens), 6
    )  # total non-space chars / tokens (single-spaced corpus)
    # quality: in-range token count + stopword presence, clamped to
    # [0,1]; an EMPTY OR NULL document scores 0.0 explicitly (LEAST
    # ignores the NULL stop_ratio on both engines, which would
    # otherwise score it a perfect 1.0 — and for NULL text n_tokens is
    # itself NULL, so the ==0 test alone falls through to otherwise).
    # Shared with quality_score_col so the frame and the bare-column
    # forms cannot drift.
    score = quality_score_col(text)
    return docs.select(
        "doc_id",
        F.length(text).alias("n_chars"),
        n_tokens.cast("long").alias("n_tokens"),
        F.regexp_count(text, F.lit("[a-z]+")).cast("long").alias("n_word_tokens"),
        avg_tok.alias("avg_token_len"),
        stop_ratio.alias("stopword_ratio"),
        score.alias("quality_score"),
    )


def quality_score_sql(text_col: str = "text") -> str:
    """DuckDB expression twin of quality_features' quality_score."""
    toks = f"list_filter(string_split({text_col}, ' '), t -> t <> '')"
    stop_list = ", ".join(f"'{w}'" for w in ENGLISH_STOPWORDS)
    n_tokens = f"len({toks})"
    n_stop = f"len(list_filter({toks}, t -> t IN ({stop_list})))"
    stop_ratio = f"ROUND(CAST({n_stop} AS DOUBLE) / {n_tokens}, 6)"
    return (
        f"CASE WHEN COALESCE({n_tokens}, 0) = 0 THEN 0.0 ELSE "
        f"ROUND(LEAST(1.0, (CAST({n_tokens} AS DOUBLE) / 50.0) * 0.5 + {stop_ratio} * 2.0), 6) END"
    )


def quality_features_sql() -> str:
    toks = "list_filter(string_split(text, ' '), t -> t <> '')"
    stop_list = ", ".join(f"'{w}'" for w in ENGLISH_STOPWORDS)
    n_tokens = f"len({toks})"
    n_stop = f"len(list_filter({toks}, t -> t IN ({stop_list})))"
    stop_ratio = f"ROUND(CAST({n_stop} AS DOUBLE) / {n_tokens}, 6)"
    avg_tok = f"ROUND(CAST(length(text) - ({n_tokens} - 1) AS DOUBLE) / {n_tokens}, 6)"
    score = quality_score_sql()
    return f"""
SELECT doc_id,
       length(text) AS n_chars,
       CAST({n_tokens} AS BIGINT) AS n_tokens,
       CAST(len(regexp_extract_all(text, '[a-z]+')) AS BIGINT) AS n_word_tokens,
       {avg_tok} AS avg_token_len,
       {stop_ratio} AS stopword_ratio,
       {score} AS quality_score
FROM documents
"""


# GPT-2-style pre-tokenizer (RE2/Java-compatible subset): contraction
# suffixes, space-prefixed letter runs, digit runs, punctuation runs.
# Whitespace itself is skipped, so a match count approximates the BPE
# token count before merges (an upper bound on the merged count).
BPE_PRETOKEN_PATTERN = (
    r"'(?:s|t|re|ve|m|ll|d)"
    r"| ?[A-Za-z]+"
    r"| ?[0-9]+"
    r"| ?[^A-Za-z0-9\s]+"
)


def token_count(docs: DataFrame) -> DataFrame:
    """Per-document token counts under two tokenizers: whitespace split
    and the GPT-2-style pre-tokenizer regex — plus chars-per-BPE-token,
    the usual compression/quality proxy. Pure regex scan, JVM-side,
    no shuffle."""
    text = F.col("text")
    ws = F.size(tokens_col(text)).cast("long")
    bpe = F.regexp_count(text, F.lit(BPE_PRETOKEN_PATTERN)).cast("long")
    return docs.select(
        "doc_id",
        ws.alias("n_ws_tokens"),
        bpe.alias("n_bpe_tokens"),
        # try_divide: an empty/whitespace-only doc has bpe == 0, which
        # would throw DIVIDE_BY_ZERO under Spark 4's default ANSI mode.
        F.round(F.try_divide(F.length(text), bpe), 6).alias("chars_per_bpe_token"),
    )


def token_count_sql() -> str:
    toks = "list_filter(string_split(text, ' '), t -> t <> '')"
    pat = BPE_PRETOKEN_PATTERN.replace("'", "''")
    bpe = f"len(regexp_extract_all(text, '{pat}'))"
    return f"""
SELECT doc_id,
       CAST(len({toks}) AS BIGINT) AS n_ws_tokens,
       CAST({bpe} AS BIGINT) AS n_bpe_tokens,
       ROUND(CAST(length(text) AS DOUBLE) / NULLIF({bpe}, 0), 6) AS chars_per_bpe_token
FROM documents
"""


def lang_id(docs: DataFrame) -> DataFrame:
    """Marker-word language heuristic: per-language hit counts, argmax
    with a fixed preference order on ties."""
    toks = tokens_col(F.col("text"))

    def marker_score(words: tuple[str, ...]):
        if not words:
            return F.lit(0)
        return F.size(F.filter(toks, lambda t: t.isin(*words)))

    scores = {lang: marker_score(words) for lang, words in LANG_MARKERS.items()}
    pred = F.lit(LANG_ORDER[-1])
    for lang in reversed(LANG_ORDER[:-1]):
        cond = scores[lang] > 0
        for o in LANG_ORDER:
            if LANG_ORDER.index(o) < LANG_ORDER.index(lang):
                cond = cond & (scores[lang] > scores[o])
            elif o != lang:
                cond = cond & (scores[lang] >= scores[o])
        pred = F.when(cond, lang).otherwise(pred)
    sel = [F.col("doc_id")]
    sel += [scores[lang].cast("long").alias(f"score_{lang}") for lang in LANG_ORDER]
    sel.append(pred.alias("predicted_lang"))
    return docs.select(*sel)


def lang_id_sql() -> str:
    toks = "list_filter(string_split(text, ' '), t -> t <> '')"

    def score(lang: str) -> str:
        words = LANG_MARKERS[lang]
        if not words:
            return "0"
        lst = ", ".join(f"'{w}'" for w in words)
        return f"len(list_filter({toks}, t -> t IN ({lst})))"

    score_cols = ",\n       ".join(
        f"CAST({score(lang)} AS BIGINT) AS score_{lang}" for lang in LANG_ORDER
    )
    pred = f"'{LANG_ORDER[-1]}'"
    for lang in reversed(LANG_ORDER[:-1]):
        conds = [f"{score(lang)} > 0"]
        for o in LANG_ORDER:
            if LANG_ORDER.index(o) < LANG_ORDER.index(lang):
                conds.append(f"{score(lang)} > {score(o)}")
            elif o != lang:
                conds.append(f"{score(lang)} >= {score(o)}")
        pred = f"CASE WHEN {' AND '.join(conds)} THEN '{lang}' ELSE {pred} END"
    return f"""
SELECT doc_id,
       {score_cols},
       {pred} AS predicted_lang
FROM documents
"""


def tf_idf(docs: DataFrame) -> DataFrame:
    """Top-5 TF-IDF terms per document (deterministic tiebreak
    on term). tf = in-doc count; idf = ln((N+1)/(df+1)) + 1 (smoothed,
    sklearn-style). Two aggregations + one join on term: the document-
    frequency side is tiny (vocabulary-sized) and broadcasts; the
    corpus-side term explode shuffles once on (doc, term).
    """
    from pyspark.sql import Window

    terms = fan_out(docs).select(
        "doc_id", F.explode(tokens_col(F.col("text"))).alias("term")
    )
    tf = terms.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    n_docs = docs.count()  # scalar; one lightweight job, reference-style A8
    df_ = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    idf = df_.select(
        "term",
        F.round(F.log((n_docs + 1) / (F.col("df") + 1)) + 1, 6).alias("idf"),
    )
    scored = tf.join(F.broadcast(idf), on="term").select(
        "doc_id",
        "term",
        F.round(F.col("tf") * F.col("idf"), 6).alias("tfidf"),
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("tfidf").desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 5)
        .select("doc_id", "rank", "term", "tfidf")
    )


def tf_idf_sql() -> str:
    toks = "list_filter(string_split(text, ' '), t -> t <> '')"
    return f"""
WITH terms AS (
  SELECT doc_id, unnest({toks}) AS term FROM documents
), tf AS (
  SELECT doc_id, term, COUNT(*) AS tf FROM terms GROUP BY doc_id, term
), idf AS (
  SELECT term,
         ROUND(ln(CAST((SELECT COUNT(*) FROM documents) + 1 AS DOUBLE)
                  / (COUNT(*) + 1)) + 1, 6) AS idf
  FROM tf GROUP BY term
), scored AS (
  SELECT tf.doc_id, tf.term, ROUND(tf.tf * idf.idf, 6) AS tfidf
  FROM tf JOIN idf USING (term)
), ranked AS (
  SELECT doc_id, term, tfidf,
         ROW_NUMBER() OVER (PARTITION BY doc_id
                            ORDER BY tfidf DESC, term ASC) AS rank
  FROM scored
)
SELECT doc_id, CAST(rank AS BIGINT) AS rank, term, tfidf
FROM ranked WHERE rank <= 5
"""


BM25_QUERY_TERMS = ("spark", "data", "query", "filter")
BM25_K1 = 1.2
BM25_B = 0.75


def bm25_scores(docs: DataFrame) -> DataFrame:
    """BM25 relevance of every document against a fixed query — the
    retrieval-grade companion to :func:`tf_idf` (corpus quality
    filtering by query relevance, dedup-candidate scoring, eval-set
    mining). Okapi BM25 with Lucene's non-negative idf:
    ``idf = ln((N - df + 0.5)/(df + 0.5) + 1)``;
    ``score = Σ_t idf_t · tf·(k1+1)/(tf + k1·(1 − b + b·dl/avgdl))``
    with k1 = ``BM25_K1`` and b = ``BM25_B`` over ``BM25_QUERY_TERMS``.

    Scale shape: per-term tf and doc length are PER-ROW array
    expressions (``size(filter(tokens, = t))`` — codegen, no explode,
    no shuffle for the tf side); corpus stats (N, avgdl, per-term df)
    are ONE one-row aggregate broadcast back via crossJoin (the
    BNLJ-allowlist scalar pattern shared with text_surprisal); the
    top-n is a TakeOrderedAndProject. Two corpus scans total, zero
    wide shuffles. Engine-exactness: every input to the score (tf, dl,
    df, N) is an exact integer, avgdl is an exact-integer-sum average,
    and the per-term components are summed in fixed expression order —
    so the double arithmetic is bit-identical in DuckDB and the result
    can carry a value-hash oracle despite being floating-point.
    """
    toks = tokens_col(F.col("text"))

    def _tf(term: str) -> Column:
        # NB: a default-arg lambda (``lambda x, t=t``) would be read by
        # PySpark as the two-parameter (element, index) form — the
        # closure keeps the predicate single-argument.
        return F.size(F.filter(toks, lambda x: x == F.lit(term)))

    per_doc = fan_out(docs).select(
        "doc_id",
        F.size(toks).cast("long").alias("dl"),
        *[
            _tf(t).cast("long").alias(f"tf_{i}")
            for i, t in enumerate(BM25_QUERY_TERMS)
        ],
    )
    stats = per_doc.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.avg("dl").alias("avgdl"),
        *[
            F.sum((F.col(f"tf_{i}") > 0).cast("long")).alias(f"df_{i}")
            for i in range(len(BM25_QUERY_TERMS))
        ],
    )
    k1, b = BM25_K1, BM25_B
    comps = []
    for i in range(len(BM25_QUERY_TERMS)):
        idf = F.log(
            (F.col("n_docs") - F.col(f"df_{i}") + 0.5)
            / (F.col(f"df_{i}") + 0.5)
            + 1
        )
        tf = F.col(f"tf_{i}").cast("double")
        norm = (tf * (k1 + 1)) / (
            tf + k1 * (1 - b + b * F.col("dl") / F.col("avgdl"))
        )
        comps.append(idf * norm)
    total = comps[0]
    for c in comps[1:]:
        total = total + c
    return (
        per_doc.crossJoin(F.broadcast(stats))
        .select("doc_id", "dl", F.round(total, 6).alias("bm25"))
        .orderBy(F.col("bm25").desc(), F.col("doc_id").asc())
        .limit(20)
    )


def bm25_scores_sql() -> str:
    """DuckDB twin of :func:`bm25_scores` — identical double ops in
    identical (fixed expression) order."""
    t = "list_filter(string_split(text, ' '), x -> x <> '')"
    tf_cols = ",\n         ".join(
        f"CAST(len(list_filter(toks, x -> x = '{term}')) AS BIGINT) AS tf_{i}"
        for i, term in enumerate(BM25_QUERY_TERMS)
    )
    df_cols = ",\n         ".join(
        f"SUM(CASE WHEN tf_{i} > 0 THEN 1 ELSE 0 END) AS df_{i}"
        for i in range(len(BM25_QUERY_TERMS))
    )
    comps = " + ".join(
        f"(ln((n_docs - df_{i} + 0.5) / (df_{i} + 0.5) + 1) * "
        f"(CAST(tf_{i} AS DOUBLE) * {BM25_K1 + 1}) / "
        f"(CAST(tf_{i} AS DOUBLE) + {BM25_K1} * (1 - {BM25_B} + {BM25_B} * dl / avgdl)))"
        for i in range(len(BM25_QUERY_TERMS))
    )
    return f"""
WITH per_doc AS (
  SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl,
         {tf_cols}
  FROM (SELECT doc_id, {t} AS toks FROM documents)
), stats AS (
  SELECT COUNT(*) AS n_docs, AVG(dl) AS avgdl,
         {df_cols}
  FROM per_doc
)
SELECT doc_id, dl, ROUND({comps}, 6) AS bm25
FROM per_doc, stats
ORDER BY bm25 DESC, doc_id ASC
LIMIT 20
"""


def fingerprint(docs: DataFrame) -> DataFrame:
    """Winnowing-style document fingerprint: the 4 smallest distinct
    3-gram shingle digests, concatenated. Near-identical documents agree
    on most of the minima; the fingerprint doubles as a clustering key."""
    from .dedup import shingles

    sh = fan_out(docs).select(
        "doc_id", F.explode(shingles(F.col("text"))).alias("shingle")
    )
    return (
        sh.select("doc_id", F.md5("shingle").alias("h"))
        .distinct()
        .groupBy("doc_id")
        .agg(
            F.array_join(
                F.slice(F.array_sort(F.collect_list("h")), 1, 4), ""
            ).alias("fingerprint")
        )
    )


def fingerprint_sql() -> str:
    from .dedup import shingles_sql

    return f"""
WITH sh AS (
  SELECT DISTINCT doc_id, md5(shingle) AS h FROM (
    SELECT doc_id, unnest({shingles_sql('text')}) AS shingle FROM documents
  )
)
SELECT doc_id,
       array_to_string(list_slice(list_sort(list(h)), 1, 4), '') AS fingerprint
FROM sh
GROUP BY doc_id
"""


def unigram_surprisal(docs: DataFrame) -> DataFrame:
    """Language-model-free perplexity proxy: score each document by the
    average unigram surprisal -log2 p(token) of its tokens under the
    corpus's own unigram distribution. Low = templated/repetitive text,
    high = rare-token-heavy (both tails are curation filter targets).
    Documents with no tokens are absent from the output.

    Scale shape: the token-frequency table is vocabulary-sized (millions
    of rows at web scale, ~100 MB — broadcastable), the total-count
    frame is one row; the corpus explodes once and aggregates back on
    doc_id — two bounded shuffles, everything else broadcast.

    Engine-exactness: p = n_tok/n_total in double (one correctly-rounded
    division), per-token surprisal rounded to 8 decimals, then
    decimal(18,8)-summed per document (order-independent) and divided by
    the token count in double.
    """
    toks = fan_out(docs).select(
        "doc_id", F.explode(tokens_col(F.col("text"))).alias("tok")
    )
    freq = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("n_tok"))
    total = freq.agg(F.sum("n_tok").alias("n_total"))
    scored_vocab = freq.crossJoin(F.broadcast(total)).select(
        "tok",
        F.round(
            -F.log2(
                F.col("n_tok").cast("double") / F.col("n_total").cast("double")
            ),
            8,
        ).alias("surprisal"),
    )
    return (
        toks.join(F.broadcast(scored_vocab), on="tok")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.round(
                F.sum(F.col("surprisal").cast("decimal(18,8)")).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("avg_surprisal"),
        )
    )


def unigram_surprisal_sql() -> str:
    """DuckDB twin of :func:`unigram_surprisal` — identical float ops in
    identical order."""
    toks = "list_filter(string_split(text, ' '), t -> t <> '')"
    return f"""
WITH toks AS (
  SELECT doc_id, unnest({toks}) AS tok FROM documents
), freq AS (
  SELECT tok, CAST(COUNT(*) AS BIGINT) AS n_tok FROM toks GROUP BY tok
), tot AS (
  SELECT CAST(SUM(n_tok) AS BIGINT) AS n_total FROM freq
), sc AS (
  SELECT tok,
         ROUND(-log2(CAST(n_tok AS DOUBLE) / CAST(n_total AS DOUBLE)), 8)
           AS surprisal
  FROM freq, tot
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_tokens,
       ROUND(CAST(SUM(CAST(surprisal AS DECIMAL(18,8))) AS DOUBLE)
             / COUNT(*), 6) AS avg_surprisal
FROM toks JOIN sc USING (tok)
GROUP BY doc_id
"""


# ---------------------------------------------------------------------------
# BPE pair counting (tokenizer-induction step at corpus scale)
# ---------------------------------------------------------------------------


def bpe_pair_counts(docs: DataFrame, top_k: int = 20) -> DataFrame:
    """The counting step of one BPE merge iteration, at corpus scale:
    adjacent character-pair frequencies inside tokens, weighted by
    corpus token frequency — the candidate list a tokenizer trainer
    would merge from. Returns the ``top_k`` pairs as
    (pair, n_occurrences, rank), deterministic tiebreak on the pair
    string.

    Scale shape: token vocabulary first (one groupBy — the explode
    shrinks from corpus tokens to DISTINCT tokens before any character
    work), then per-token character pairs via a JVM-side indexed
    transform, one more groupBy on the pair, and a global rank over the
    (tiny) pair vocabulary. The expensive explode is over vocabulary ×
    token length, not corpus size.
    """
    vocab = (
        fan_out(docs)
        .select(F.explode(tokens_col(F.col("text"))).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    pairs = vocab.filter(F.length("token") >= 2).select(
        "n",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.length("token") - 1),
                lambda i: F.col("token").substr(i, F.lit(2)),
            )
        ).alias("pair"),
    )
    agg = pairs.groupBy("pair").agg(F.sum("n").alias("n_occurrences"))
    w = Window.orderBy(F.col("n_occurrences").desc(), F.col("pair").asc())
    return (
        agg.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= top_k)
        .select("pair", "n_occurrences", "rank")
    )


def bpe_pair_counts_sql() -> str:
    return """
WITH vocab AS (
  SELECT token, COUNT(*) AS n FROM (
    SELECT unnest(list_filter(string_split(text, ' '),
                              t -> t <> '')) AS token
    FROM documents
  ) GROUP BY token
), pairs AS (
  SELECT substr(token, CAST(i AS INTEGER), 2) AS pair, n
  FROM (
    SELECT token, n, unnest(range(1, length(token))) AS i
    FROM vocab WHERE length(token) >= 2
  )
), agg AS (
  SELECT pair, CAST(SUM(n) AS BIGINT) AS n_occurrences
  FROM pairs GROUP BY pair
)
SELECT pair, n_occurrences, CAST(rank AS BIGINT) AS rank FROM (
  SELECT *, ROW_NUMBER() OVER (
      ORDER BY n_occurrences DESC, pair ASC) AS rank
  FROM agg
) WHERE rank <= 20
"""


# ---------------------------------------------------------------------------
# Bigram LM perplexity (CCNet-style quality filter)
# ---------------------------------------------------------------------------


def bigram_lm_perplexity(docs: DataFrame) -> DataFrame:
    """CCNet-style LM quality score: each document's average bigram
    surprisal -log2 P(b|a) — and the corresponding perplexity — under
    the corpus's OWN add-0.5-smoothed bigram language model. The
    production filter drops both tails (templated/boilerplate text
    scores low, garbled text scores high); CCNet buckets a corpus into
    head/middle/tail by exactly this number. Documents with fewer than
    two tokens have no bigrams and are absent from the output.

    Scale shape: the LM is vocabulary²-BOUNDED, not corpus-bound — the
    bigram-count table collapses to distinct adjacent pairs (web-scale:
    ~10⁸ rows, broadcastable after df-capping; here trivially small),
    the context-count and vocab-size frames are aggregations of it. The
    corpus explodes once into (doc, a, b), joins the broadcast LM, and
    aggregates back on doc_id — two uniform-key shuffles + broadcasts,
    the unigram_surprisal shape one order up. If the bigram table ever
    outgrew broadcast, the join is still an equi-join on hash-uniform
    keys (no skew).

    Engine-exactness (house style): P computed in double (one division),
    per-bigram surprisal rounded to 8 decimals, decimal(18,8)-summed per
    document (order-independent), averaged in double, rounded to 6;
    perplexity = round(2^avg, 4).
    """
    toks = tokens_col(F.col("text"))
    bigrams_arr = F.when(
        F.size(toks) >= 2,
        F.transform(
            F.slice(toks, 1, F.size(toks) - 1),
            lambda x, i: F.struct(
                x.alias("a"), F.element_at(toks, i + F.lit(2)).alias("b")
            ),
        ),
    ).otherwise(F.array().cast("array<struct<a:string,b:string>>"))
    bg = (
        fan_out(docs)
        .select("doc_id", F.explode(bigrams_arr).alias("p"))
        .select("doc_id", "p.a", "p.b")
    )
    counts = bg.groupBy("a", "b").agg(F.count(F.lit(1)).alias("n_ab"))
    # Everything downstream of `counts` derives from the vocab²-bounded
    # pair table, never from the corpus-sized `bg` again: the context
    # count n_a is a window-sum over counts (identical to the groupBy
    # sum), and the vocabulary size counts distinct tokens of counts'
    # own (a, b) columns (a token is in the corpus's bigram stream iff
    # it appears in some distinct pair — same v). The previous
    # formulation re-exploded the corpus for ctx, vocab, AND the
    # broadcast build — four tokenize+explode passes per run; this one
    # pays two (counts build + final probe side), and Catalyst's
    # ReuseExchange can serve the counts shuffle to both lm consumers.
    ctx_w = Window.partitionBy("a")
    vocab = (
        counts.select(F.explode(F.array("a", "b")).alias("tok"))
        .agg(F.countDistinct("tok").alias("v"))
    )
    lm = (
        counts.withColumn("n_a", F.sum("n_ab").over(ctx_w))
        .crossJoin(F.broadcast(vocab))
        .select(
            "a",
            "b",
            F.round(
                -F.log2(
                    (F.col("n_ab") + F.lit(0.5)).cast("double")
                    / (F.col("n_a") + F.lit(0.5) * F.col("v")).cast("double")
                ),
                8,
            ).alias("surprisal"),
        )
    )
    avg = F.round(
        F.sum(F.col("surprisal").cast("decimal(18,8)")).cast("double")
        / F.count(F.lit(1)),
        6,
    )
    return (
        bg.join(F.broadcast(lm), on=["a", "b"])
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            avg.alias("avg_bigram_surprisal"),
            F.round(F.pow(F.lit(2.0), avg), 4).alias("perplexity"),
        )
    )


def perplexity_buckets(docs: DataFrame) -> DataFrame:
    """CCNet's corpus partitioning step: bucket documents into
    head / middle / tail by LM perplexity percentile (head = lowest-
    perplexity 30% — the cleanest text; tail = above the 70th
    percentile). This is the decision the CCNet pipeline actually
    ships: train on head+middle, sample or drop tail.

    Scale shape: thresholds are ONE exact-percentile aggregate over the
    perplexity frame broadcast back as a one-row crossJoin (the
    BNLJ-allowlist scalar pattern) — no global sort, no single-
    partition window, unlike an ntile formulation. Bucketing is a
    per-row comparison. Engine-exactness: perplexity values are already
    hash-exact across engines (see bigram_lm_perplexity); Spark
    ``percentile`` and DuckDB ``quantile_cont`` share the same linear
    interpolation (parity established by percentile_prices); the bucket
    is a comparison of identical doubles.
    """
    # Materialize the scored corpus once: `ppl` is referenced by the
    # percentile aggregate AND the final bucketing join, and each
    # reference would re-run the whole LM pipeline (tokenize + two
    # corpus explodes + LM shuffles — the plan audit showed 19 shuffles
    # for this query, ~2× its real cost). Same localCheckpoint idiom as
    # knn_join's SRP index; storage is GC-released with the frame. At
    # 100 TB the scored frame is (doc_id, 2 doubles, 1 long) — a tiny
    # fraction of the corpus — and a production CCNet run would persist
    # it anyway before choosing cuts.
    ppl = bigram_lm_perplexity(docs).localCheckpoint(eager=True)
    cuts = ppl.agg(
        F.expr("percentile(perplexity, 0.3)").alias("t_lo"),
        F.expr("percentile(perplexity, 0.7)").alias("t_hi"),
    )
    return ppl.crossJoin(F.broadcast(cuts)).select(
        "doc_id",
        "perplexity",
        F.when(F.col("perplexity") <= F.col("t_lo"), "head")
        .when(F.col("perplexity") <= F.col("t_hi"), "middle")
        .otherwise("tail")
        .alias("bucket"),
    )


def perplexity_buckets_sql() -> str:
    """DuckDB twin of :func:`perplexity_buckets` — wraps the perplexity
    twin and applies identical percentile cuts and comparisons."""
    return f"""
WITH ppl AS (
{bigram_lm_perplexity_sql()}
), cuts AS (
  SELECT quantile_cont(perplexity, 0.3) AS t_lo,
         quantile_cont(perplexity, 0.7) AS t_hi
  FROM ppl
)
SELECT doc_id, perplexity,
       CASE WHEN perplexity <= t_lo THEN 'head'
            WHEN perplexity <= t_hi THEN 'middle'
            ELSE 'tail' END AS bucket
FROM ppl, cuts
"""


def bigram_lm_perplexity_sql() -> str:
    """DuckDB twin of :func:`bigram_lm_perplexity` — identical float ops
    in identical order."""
    toks = "list_filter(string_split(text, ' '), t -> t <> '')"
    return f"""
WITH t AS (
  SELECT doc_id, {toks} AS toks FROM documents
), idx AS (
  SELECT doc_id, toks,
         unnest(range(1, greatest(len(toks), 1))) AS i
  FROM t
), bg AS (
  SELECT doc_id, toks[i] AS a, toks[i + 1] AS b FROM idx
), counts AS (
  SELECT a, b, CAST(COUNT(*) AS BIGINT) AS n_ab FROM bg GROUP BY a, b
), ctx AS (
  SELECT a, CAST(SUM(n_ab) AS BIGINT) AS n_a FROM counts GROUP BY a
), vocab AS (
  SELECT CAST(COUNT(DISTINCT tok) AS BIGINT) AS v FROM (
    SELECT b AS tok FROM bg UNION ALL SELECT a AS tok FROM bg
  )
), lm AS (
  SELECT counts.a, counts.b,
         ROUND(-log2(CAST(counts.n_ab + 0.5 AS DOUBLE)
                     / CAST(ctx.n_a + 0.5 * vocab.v AS DOUBLE)), 8)
           AS surprisal
  FROM counts JOIN ctx USING (a), vocab
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_bigrams,
       ROUND(CAST(SUM(CAST(surprisal AS DECIMAL(18,8))) AS DOUBLE)
             / COUNT(*), 6) AS avg_bigram_surprisal,
       ROUND(pow(2.0, ROUND(CAST(SUM(CAST(surprisal AS DECIMAL(18,8)))
                                 AS DOUBLE) / COUNT(*), 6)), 4)
         AS perplexity
FROM bg JOIN lm USING (a, b)
GROUP BY doc_id
"""


# ---------------------------------------------------------------------------
# Heuristic quality-rule bundles (Gopher / C4 style)
# ---------------------------------------------------------------------------

# Gopher (Rae et al. 2021, §A1.1) requires at least 2 distinct hits from a
# small must-have English word list; we reuse a subset of the stopword list.
GOPHER_REQUIRED_WORDS = ("the", "and", "of", "to", "a")

GOPHER_MIN_WORDS = 50
GOPHER_MAX_WORDS = 100_000
GOPHER_MIN_MEAN_WORD_LEN = 3.0
GOPHER_MAX_MEAN_WORD_LEN = 10.0
GOPHER_MAX_SYMBOL_RATIO = 0.1
GOPHER_MIN_ALPHA_WORD_FRAC = 0.8
GOPHER_MAX_BULLET_LINE_FRAC = 0.9
GOPHER_MAX_ELLIPSIS_LINE_FRAC = 0.3


def gopher_quality_rules(
    docs: DataFrame, keep: tuple[str, ...] = ()
) -> DataFrame:
    """Gopher-style + C4-style document quality rules as one codegen scan.

    Every rule is a deterministic expression over the raw text (word
    counts, mean word length, symbol-to-word ratio, bullet / ellipsis
    line fractions, required-stopword hits, curly-brace / lorem-ipsum
    boilerplate, terminal-punctuation line fraction), emitted both as
    the measured statistic and as a boolean pass flag, plus the
    conjunction ``passes_gopher``.

    Scale: no shuffle, no UDF — a single whole-stage-codegen projection
    over the corpus scan, so it runs at parquet-scan speed at 100 TB.
    The reference has no quality filtering at all (its documents are web
    logs); this is a training-data-pipeline extension (SURVEY.md §2 north
    star), modeled on the published Gopher (Rae et al. 2021) and C4
    (Raffel et al. 2020) filter sets.
    """
    text = F.col("text")
    toks = tokens_col(text)
    n_words = F.size(toks).cast("long")
    sum_word_len = F.aggregate(
        toks, F.lit(0).cast("long"), lambda acc, t: acc + F.length(t)
    )
    mean_word_len = F.round(F.try_divide(sum_word_len, n_words), 6)
    n_alpha_words = F.size(F.filter(toks, lambda t: t.rlike("[a-zA-Z]")))
    frac_alpha_words = F.round(F.try_divide(n_alpha_words, n_words), 6)
    n_symbols = F.regexp_count(text, F.lit("#")) + F.regexp_count(
        text, F.lit(r"\.\.\.")
    )
    symbol_word_ratio = F.round(F.try_divide(n_symbols, n_words), 6)
    lines = F.split(text, "\n")
    n_lines = F.size(lines)
    frac_bullet_lines = F.round(
        F.try_divide(
            F.size(
                F.filter(
                    lines,
                    lambda ln: ln.startswith("- ")
                    | ln.startswith("* ")
                    | ln.startswith("•"),
                )
            ),
            n_lines,
        ),
        6,
    )
    frac_ellipsis_lines = F.round(
        F.try_divide(
            F.size(F.filter(lines, lambda ln: ln.endswith("..."))), n_lines
        ),
        6,
    )
    frac_terminal_punct_lines = F.round(
        F.try_divide(
            F.size(F.filter(lines, lambda ln: ln.rlike('[.!?"]$'))), n_lines
        ),
        6,
    )
    n_required_stopwords = F.size(
        F.array_intersect(
            F.array_distinct(toks),
            F.array(*[F.lit(w) for w in GOPHER_REQUIRED_WORDS]),
        )
    ).cast("long")
    has_curly_brace = text.contains("{")
    has_lorem_ipsum = F.lower(text).contains("lorem ipsum")

    flag_word_count = (n_words >= GOPHER_MIN_WORDS) & (
        n_words <= GOPHER_MAX_WORDS
    )
    flag_mean_word_len = (mean_word_len >= GOPHER_MIN_MEAN_WORD_LEN) & (
        mean_word_len <= GOPHER_MAX_MEAN_WORD_LEN
    )
    flag_symbol_ratio = symbol_word_ratio <= GOPHER_MAX_SYMBOL_RATIO
    flag_alpha_words = frac_alpha_words >= GOPHER_MIN_ALPHA_WORD_FRAC
    flag_bullets = frac_bullet_lines <= GOPHER_MAX_BULLET_LINE_FRAC
    flag_ellipsis = frac_ellipsis_lines <= GOPHER_MAX_ELLIPSIS_LINE_FRAC
    flag_stopwords = n_required_stopwords >= 2
    passes_gopher = (
        flag_word_count
        & flag_mean_word_len
        & flag_symbol_ratio
        & flag_alpha_words
        & flag_bullets
        & flag_ellipsis
        & flag_stopwords
    )
    passes_c4 = ~has_curly_brace & ~has_lorem_ipsum

    return docs.select(
        "doc_id",
        n_words.alias("n_words"),
        mean_word_len.alias("mean_word_len"),
        frac_alpha_words.alias("frac_alpha_words"),
        symbol_word_ratio.alias("symbol_word_ratio"),
        frac_bullet_lines.alias("frac_bullet_lines"),
        frac_ellipsis_lines.alias("frac_ellipsis_lines"),
        frac_terminal_punct_lines.alias("frac_terminal_punct_lines"),
        n_required_stopwords.alias("n_required_stopwords"),
        has_curly_brace.alias("has_curly_brace"),
        has_lorem_ipsum.alias("has_lorem_ipsum"),
        flag_word_count.alias("flag_word_count"),
        flag_mean_word_len.alias("flag_mean_word_len"),
        flag_symbol_ratio.alias("flag_symbol_ratio"),
        flag_alpha_words.alias("flag_alpha_words"),
        flag_bullets.alias("flag_bullets"),
        flag_ellipsis.alias("flag_ellipsis"),
        flag_stopwords.alias("flag_stopwords"),
        passes_gopher.alias("passes_gopher"),
        passes_c4.alias("passes_c4"),
        # extra source columns carried through the SAME projection so
        # callers composing on the rules (e.g. ml/quality.py's tokens)
        # never need a corpus self-join (round-13 review)
        *keep,
    )


def gopher_quality_rules_sql() -> str:
    """DuckDB twin of :func:`gopher_quality_rules`."""
    toks = "list_filter(string_split(text, ' '), t -> t <> '')"
    req = ", ".join(f"'{w}'" for w in GOPHER_REQUIRED_WORDS)
    return f"""
WITH base AS (
  SELECT doc_id,
         {toks} AS toks,
         string_split(text, chr(10)) AS lines,
         text AS t
  FROM documents
), stats AS (
  SELECT doc_id,
         CAST(len(toks) AS BIGINT) AS n_words,
         ROUND(CAST(list_sum(list_transform(toks, x -> length(x)))
                    AS DOUBLE) / NULLIF(len(toks), 0), 6) AS mean_word_len,
         ROUND(CAST(len(list_filter(toks, x -> regexp_matches(x, '[a-zA-Z]')))
                    AS DOUBLE) / NULLIF(len(toks), 0), 6) AS frac_alpha_words,
         ROUND(CAST(len(regexp_extract_all(t, '#'))
                    + len(regexp_extract_all(t, '\\.\\.\\.'))
                    AS DOUBLE) / NULLIF(len(toks), 0), 6) AS symbol_word_ratio,
         ROUND(CAST(len(list_filter(lines, ln -> ln LIKE '- %' OR ln LIKE '* %'
                                                OR ln LIKE chr(8226) || '%'))
                    AS DOUBLE) / NULLIF(len(lines), 0), 6) AS frac_bullet_lines,
         ROUND(CAST(len(list_filter(lines, ln -> ln LIKE '%...'))
                    AS DOUBLE) / NULLIF(len(lines), 0), 6) AS frac_ellipsis_lines,
         ROUND(CAST(len(list_filter(lines, ln -> regexp_matches(ln, '[.!?"]$')))
                    AS DOUBLE) / NULLIF(len(lines), 0), 6)
           AS frac_terminal_punct_lines,
         CAST(len(list_intersect(list_distinct(toks), [{req}])) AS BIGINT)
           AS n_required_stopwords,
         contains(t, '{{') AS has_curly_brace,
         contains(lower(t), 'lorem ipsum') AS has_lorem_ipsum
  FROM base
)
SELECT doc_id, n_words, mean_word_len, frac_alpha_words, symbol_word_ratio,
       frac_bullet_lines, frac_ellipsis_lines, frac_terminal_punct_lines,
       n_required_stopwords, has_curly_brace, has_lorem_ipsum,
       (n_words >= {GOPHER_MIN_WORDS} AND n_words <= {GOPHER_MAX_WORDS})
         AS flag_word_count,
       (mean_word_len >= {GOPHER_MIN_MEAN_WORD_LEN}
        AND mean_word_len <= {GOPHER_MAX_MEAN_WORD_LEN}) AS flag_mean_word_len,
       symbol_word_ratio <= {GOPHER_MAX_SYMBOL_RATIO} AS flag_symbol_ratio,
       frac_alpha_words >= {GOPHER_MIN_ALPHA_WORD_FRAC} AS flag_alpha_words,
       frac_bullet_lines <= {GOPHER_MAX_BULLET_LINE_FRAC} AS flag_bullets,
       frac_ellipsis_lines <= {GOPHER_MAX_ELLIPSIS_LINE_FRAC} AS flag_ellipsis,
       n_required_stopwords >= 2 AS flag_stopwords,
       ((n_words >= {GOPHER_MIN_WORDS} AND n_words <= {GOPHER_MAX_WORDS})
        AND (mean_word_len >= {GOPHER_MIN_MEAN_WORD_LEN}
             AND mean_word_len <= {GOPHER_MAX_MEAN_WORD_LEN})
        AND symbol_word_ratio <= {GOPHER_MAX_SYMBOL_RATIO}
        AND frac_alpha_words >= {GOPHER_MIN_ALPHA_WORD_FRAC}
        AND frac_bullet_lines <= {GOPHER_MAX_BULLET_LINE_FRAC}
        AND frac_ellipsis_lines <= {GOPHER_MAX_ELLIPSIS_LINE_FRAC}
        AND n_required_stopwords >= 2) AS passes_gopher,
       (NOT has_curly_brace AND NOT has_lorem_ipsum) AS passes_c4
FROM stats
"""


# ---------------------------------------------------------------------------
# Zipf frequency spectrum
# ---------------------------------------------------------------------------

ZIPF_TOP_RANKS = 100


def zipf_spectrum(docs: DataFrame) -> DataFrame:
    """Corpus token-frequency power-law fit: least-squares slope of
    ln(freq) vs ln(rank) over the top ``ZIPF_TOP_RANKS`` tokens —
    natural language sits near slope -1 (Zipf's law); corrupted or
    machine-generated corpora drift off it, making the slope a cheap
    corpus-health statistic.

    Scale shape: one explode + one groupBy for the frequency table
    (corpus-sized), then TakeOrderedAndProject down to the top-100
    ranks — the regression runs over 100 rows. Per-row regression
    terms are decimal-rounded before summing so the fit is
    partitioning-invariant (functions/numeric idiom).
    """
    freqs = (
        fan_out(docs)
        .select(F.explode(tokens_col(F.col("text"))).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).cast("long").alias("freq"))
        .orderBy(F.col("freq").desc(), F.col("token").asc())
        .limit(ZIPF_TOP_RANKS)
    )
    w = Window.orderBy(F.col("freq").desc(), F.col("token").asc())
    ranked = freqs.select(
        F.row_number().over(w).cast("long").alias("rank"), "freq"
    )
    x = F.log(F.col("rank").cast("double"))
    y = F.log(F.col("freq").cast("double"))
    dec = "decimal(28,12)"
    terms = ranked.select(
        F.round(x, 12).cast(dec).alias("x"),
        F.round(y, 12).cast(dec).alias("y"),
        F.round(x * y, 12).cast(dec).alias("xy"),
        F.round(x * x, 12).cast(dec).alias("xx"),
    )
    agg = terms.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("x").cast("double").alias("sx"),
        F.sum("y").cast("double").alias("sy"),
        F.sum("xy").cast("double").alias("sxy"),
        F.sum("xx").cast("double").alias("sxx"),
    )
    # try_divide: a single-distinct-token corpus has n=1 and sx=sxx=0,
    # so the OLS denominator is exactly 0 — NULL slope (matching the
    # DuckDB twin, whose /0 is NULL) instead of an ANSI throw
    # (round-13 review).
    slope = F.try_divide(
        F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"),
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"),
    )
    intercept = F.try_divide(F.col("sy") - slope * F.col("sx"), F.col("n"))
    return agg.select(
        F.col("n").cast("long").alias("n_ranks"),
        F.round(slope, 6).alias("zipf_slope"),
        F.round(intercept, 6).alias("zipf_intercept"),
    )


def zipf_spectrum_sql() -> str:
    """DuckDB twin of :func:`zipf_spectrum`."""
    toks = "list_filter(string_split(text, ' '), t -> t <> '')"
    return f"""
WITH freqs AS (
  SELECT token, COUNT(*) AS freq FROM (
    SELECT unnest({toks}) AS token FROM documents
  ) GROUP BY token
  ORDER BY freq DESC, token ASC
  LIMIT {ZIPF_TOP_RANKS}
), ranked AS (
  SELECT ROW_NUMBER() OVER (ORDER BY freq DESC, token ASC) AS rank, freq
  FROM freqs
), terms AS (
  SELECT CAST(ROUND(ln(CAST(rank AS DOUBLE)), 12) AS DECIMAL(28,12)) AS x,
         CAST(ROUND(ln(CAST(freq AS DOUBLE)), 12) AS DECIMAL(28,12)) AS y,
         CAST(ROUND(ln(CAST(rank AS DOUBLE)) * ln(CAST(freq AS DOUBLE)), 12)
              AS DECIMAL(28,12)) AS xy,
         CAST(ROUND(ln(CAST(rank AS DOUBLE)) * ln(CAST(rank AS DOUBLE)), 12)
              AS DECIMAL(28,12)) AS xx
  FROM ranked
), agg AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS n,
         CAST(SUM(x) AS DOUBLE) AS sx, CAST(SUM(y) AS DOUBLE) AS sy,
         CAST(SUM(xy) AS DOUBLE) AS sxy, CAST(SUM(xx) AS DOUBLE) AS sxx
  FROM terms
)
SELECT CAST(n AS BIGINT) AS n_ranks,
       ROUND((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS zipf_slope,
       ROUND((sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n, 6)
         AS zipf_intercept
FROM agg
"""


# ---------------------------------------------------------------------------
# Inverted index build (round 7)
# ---------------------------------------------------------------------------


def inverted_index(docs: DataFrame) -> DataFrame:
    """Term → posting-list build: (term, df, ctf, postings) where df is
    the document frequency, ctf the collection term frequency, and
    postings the sorted doc-id list — the batch index-construction step
    behind BM25 serving / retrieval-index bootstrap (text_bm25 SCORES
    with these statistics; this materializes the index itself).

    Posting lists are capped at 32 ids (the lowest doc
    ids — deterministic truncation, replayed in the oracle): at 100 TB
    a stopword's full posting list is corpus-sized and belongs in a
    positional index shard, not one aggregation row, so hot terms keep
    their exact df/ctf counts but only a bounded posting sample. Scale
    shape: one (term, doc) pre-aggregate (map-side combinable) + one
    term aggregate — two shuffles on uniform hash keys, no windows.
    Postings emit as a comma-joined string (the collect_user_events
    value-hash convention for list outputs).
    """
    per_doc = (
        fan_out(docs)
        .select(
            "doc_id", F.explode(tokens_col(F.col("text"))).alias("term")
        )
        .groupBy("term", "doc_id")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    return per_doc.groupBy("term").agg(
        F.count(F.lit(1)).cast("long").alias("df"),
        F.sum("tf").cast("long").alias("ctf"),
        F.array_join(
            F.slice(F.array_sort(F.collect_list("doc_id")), 1, 32),
            ",",
        ).alias("postings"),
    )


def inverted_index_sql() -> str:
    """DuckDB twin of :func:`inverted_index` (same truncation replay)."""
    toks = "list_filter(string_split(text, ' '), t -> t <> '')"
    return f"""
WITH per_doc AS (
  SELECT term, doc_id, COUNT(*) AS tf FROM (
    SELECT doc_id, unnest({toks}) AS term FROM documents
  ) GROUP BY term, doc_id
)
SELECT term,
       CAST(COUNT(*) AS BIGINT) AS df,
       CAST(SUM(tf) AS BIGINT) AS ctf,
       array_to_string(list_slice(list_sort(list(doc_id)), 1, 32), ',') AS postings
FROM per_doc GROUP BY term
"""


# ---------------------------------------------------------------------------
# Repetition signals (Gopher, Rae et al. 2021 §A1.1 "repetitious text")
# ---------------------------------------------------------------------------

def _word_ngrams(toks: Column, n: int) -> Column:
    """Array of (gram, chars) structs for word n-grams; chars counts the
    tokens' characters (separators excluded), so char fractions are
    separator-invariant."""
    # sequence(1, 0) would generate DESCENDING [1, 0] — docs shorter
    # than n grams must yield an EMPTY index array instead
    idx = F.when(
        F.size(toks) >= n,
        F.sequence(F.lit(1), F.size(toks) - (n - 1)),
    ).otherwise(F.array().cast("array<int>"))
    return F.transform(
        idx,
        lambda i: F.struct(
            F.concat_ws(" ", F.slice(toks, i, n)).alias("g"),
            F.aggregate(
                F.slice(toks, i, n),
                F.lit(0).cast("long"),
                lambda acc, t: acc + F.length(t),
            ).alias("chars"),
        ),
    )


def _run_stats(grams: Column) -> Column:
    """One array-side pass over the SORTED gram structs: run-length
    encoding yielding (best_cnt, best_gram, best_chars, dup_chars) —
    the most frequent gram (ties: lexicographically smallest, which
    the ascending sort makes the FIRST max run) and the
    occurrence-weighted characters of grams appearing >= 2 times.
    Shuffle-free and whole-stage-codegen: the per-document state never
    leaves the row."""
    srt = F.array_sort(grams)
    init = F.struct(
        F.lit(None).cast("string").alias("prev"),
        F.lit(0).cast("long").alias("prevch"),
        F.lit(0).cast("long").alias("run"),
        F.lit(0).cast("long").alias("bestc"),
        F.lit(None).cast("string").alias("bestg"),
        F.lit(0).cast("long").alias("bestch"),
        F.lit(0).cast("long").alias("dupch"),
    )

    def close(acc):
        # fold the open run into best/dup (used between runs + at end)
        better = acc["run"] > acc["bestc"]
        return (
            F.when(better, acc["run"]).otherwise(acc["bestc"]),
            F.when(better, acc["prev"]).otherwise(acc["bestg"]),
            F.when(better, acc["prevch"]).otherwise(acc["bestch"]),
            acc["dupch"]
            + F.when(acc["run"] >= 2, acc["run"] * acc["prevch"]).otherwise(
                F.lit(0).cast("long")
            ),
        )

    def merge(acc, x):
        same = acc["prev"].isNotNull() & (acc["prev"] == x["g"])
        bestc, bestg, bestch, dupch = close(acc)
        return F.struct(
            x["g"].alias("prev"),
            x["chars"].alias("prevch"),
            F.when(same, acc["run"] + 1).otherwise(F.lit(1).cast("long")).alias("run"),
            F.when(same, acc["bestc"]).otherwise(bestc).alias("bestc"),
            F.when(same, acc["bestg"]).otherwise(bestg).alias("bestg"),
            F.when(same, acc["bestch"]).otherwise(bestch).alias("bestch"),
            F.when(same, acc["dupch"]).otherwise(dupch).alias("dupch"),
        )

    def finish(acc):
        bestc, bestg, bestch, dupch = close(acc)
        return F.struct(
            bestc.alias("best_cnt"),
            bestg.alias("best_gram"),
            bestch.alias("best_chars"),
            dupch.alias("dup_chars"),
        )

    return F.aggregate(srt, init, merge, finish)


def repetition_signals(docs: DataFrame) -> DataFrame:
    """Gopher-style repetition signals per document, adapted to the
    fixture's single-line token-stream texts (the line/paragraph
    variants are vacuous there): the TOP word-2-gram's character
    fraction (chars of the most frequent 2-gram x its count / total
    token chars — boilerplate chant like "batch batch batch" scores
    high) and the DUPLICATE word-5-gram character weight (occurrence-
    weighted chars of 5-grams appearing >= 2 times / total token
    chars; overlapping grams each count, so the weight can exceed 1 —
    a deliberate, documented simplification of Gopher's char-coverage
    accounting, monotone in the same behavior).

    Scale: one whole-stage-codegen projection over the corpus scan —
    the n-gram arrays, sort, and run-length fold all stay inside the
    row; no shuffle, no UDF, no state. The reference has no text
    analytics at all; this extends the training-data-pipeline family
    (SURVEY.md north star) next to gopher_quality_rules.
    """
    text = F.col("text")
    toks = tokens_col(text)
    totch = F.aggregate(
        toks, F.lit(0).cast("long"), lambda acc, t: acc + F.length(t)
    )
    top2 = _run_stats(_word_ngrams(toks, 2))
    dup5 = _run_stats(_word_ngrams(toks, 5))
    frac = F.coalesce(
        F.try_divide(top2["best_cnt"] * top2["best_chars"], totch),
        F.lit(0.0),
    )
    weight = F.coalesce(F.try_divide(dup5["dup_chars"], totch), F.lit(0.0))
    return docs.select(
        "doc_id",
        F.size(toks).cast("long").alias("n_tokens"),
        totch.alias("n_token_chars"),
        top2["best_gram"].alias("top2_gram"),
        top2["best_cnt"].alias("top2_count"),
        frac.alias("top2_char_frac"),
        dup5["dup_chars"].alias("dup5_chars"),
        weight.alias("dup5_char_weight"),
    )


def repetition_signals_sql() -> str:
    """DuckDB twin of :func:`repetition_signals` (set semantics, not
    plan shape: grams unnested and grouped; argmax tie-break = count
    desc, gram asc, matching the sorted-run fold)."""
    toks = "list_filter(string_split(text, ' '), t -> t <> '')"
    return f"""
WITH base AS (
  SELECT doc_id, {toks} AS t FROM documents
), tot AS (
  SELECT doc_id,
         len(t)::BIGINT AS n_tokens,
         COALESCE(list_sum(list_transform(t, x -> len(x))), 0)::BIGINT
           AS n_token_chars
  FROM base
), g2 AS (
  SELECT b.doc_id,
         array_to_string(b.t[i.i:i.i+1], ' ') AS g,
         list_sum(list_transform(b.t[i.i:i.i+1], x -> len(x)))::BIGINT
           AS chars
  FROM base b, LATERAL (SELECT unnest(range(1, len(b.t))) AS i) i
), g2c AS (
  SELECT doc_id, g, chars, COUNT(*)::BIGINT AS cnt
  FROM g2 GROUP BY doc_id, g, chars
), top2 AS (
  SELECT doc_id, g AS top2_gram, cnt AS top2_count, cnt * chars AS topchars
  FROM (
    SELECT *, ROW_NUMBER() OVER (
      PARTITION BY doc_id ORDER BY cnt DESC, g ASC
    ) AS rn FROM g2c
  ) WHERE rn = 1
), g5 AS (
  SELECT b.doc_id,
         array_to_string(b.t[i.i:i.i+4], ' ') AS g,
         list_sum(list_transform(b.t[i.i:i.i+4], x -> len(x)))::BIGINT
           AS chars
  FROM base b, LATERAL (SELECT unnest(range(1, len(b.t) - 3)) AS i) i
  WHERE len(b.t) >= 5
), g5dup AS (
  SELECT doc_id, COALESCE(SUM(cnt * chars), 0)::BIGINT AS dup5_chars
  FROM (
    SELECT doc_id, g, chars, COUNT(*)::BIGINT AS cnt
    FROM g5 GROUP BY doc_id, g, chars
  ) WHERE cnt >= 2 GROUP BY doc_id
)
SELECT tot.doc_id, tot.n_tokens, tot.n_token_chars,
       top2.top2_gram,
       COALESCE(top2.top2_count, 0)::BIGINT AS top2_count,
       COALESCE(top2.topchars::DOUBLE / NULLIF(tot.n_token_chars, 0), 0.0)
         AS top2_char_frac,
       COALESCE(g5dup.dup5_chars, 0)::BIGINT AS dup5_chars,
       COALESCE(g5dup.dup5_chars::DOUBLE / NULLIF(tot.n_token_chars, 0),
                0.0) AS dup5_char_weight
FROM tot
LEFT JOIN top2 USING (doc_id)
LEFT JOIN g5dup USING (doc_id)
"""
