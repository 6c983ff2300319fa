"""Deduplication operators for large-scale training-data pipelines.

Five families, all built on DataFrame primitives so Catalyst owns the
physical plan:

- **exact**      — hash-groupBy on a content digest (md5). One shuffle
  on the digest; at 100 TB this is the cheapest possible dedup and the
  digest groupBy is skew-free by construction (hashes are uniform).
- **MinHash+LSH** — shingle → k independent min-hashes → band → bucket
  self-join. The band bucket join is the scale trick: instead of the
  O(n²) pair space, only documents sharing a band bucket meet in the
  join, and the bucket key is uniform so the shuffle is balanced.
- **SimHash**    — per-token digest bits, per-bit majority vote →
  fixed-width signature; identical signatures = near-dup bucket. One
  explode + one groupBy; no pair join at all.
- **n-gram Jaccard** — exact verification on a restricted candidate
  space (here: same (lang, source) block) via a shingle-match join.
  This is the "verify" stage LSH candidates would feed at scale.
- **embedding near-dup** — see similarity.py (cosine within coarse
  buckets).

Round-3 additions: segment-level (paragraph) dedup, hot-n-gram
boilerplate flags, LSH precision/recall metrics, and incremental LSH
(new batch vs existing index) — each section documents its own scale
shape.

Hash parity note: every hash here is md5-derived (both engines compute
identical md5 hex), and min-hash minima are taken over STRINGS — string
ordering is engine-independent, unlike float accumulation.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..session import local_frame
from .util import fan_out

# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------


def content_digest(text: Column) -> Column:
    """THE content-identity digest for exact dedup. Single definition
    shared by the batch operator and the streaming store's serving
    join (streaming/dedup_sink.py) — if the identity ever changes
    (e.g. md5 over normalized text), both sides move together instead
    of the store silently matching nothing."""
    return F.md5(text)


def exact_dedup_groups(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Digest-grouped duplicates: keeper = min doc_id per digest."""
    return (
        docs.withColumn("digest", content_digest(F.col(text_col)))
        .groupBy("digest")
        .agg(
            F.min("doc_id").alias("keeper_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


# ---------------------------------------------------------------------------
# Shingling (shared by MinHash and Jaccard)
# ---------------------------------------------------------------------------


def shingles(text: Column, n: int = 3) -> Column:
    """Word n-gram shingles via one anchored-lookahead regex pass:
    ``(?<![^ ])(?=(tok( tok){n-1}))`` emits every overlapping n-gram
    starting at a token boundary. Equivalent to the sliding
    slice-and-join formulation on space-normalized text but ~5× faster:
    a single codegen'd regex scan instead of interpreted higher-order
    ``slice`` calls (O(tokens) slices per row, each O(n)).

    The DuckDB twin (:func:`shingles_sql`) keeps the list formulation —
    RE2 has no lookarounds. Both agree on single-spaced text (the
    corpus; oracle-verified). Degenerate whitespace falls back to the
    whole text as one shingle so no document silently vanishes.
    """
    pat = rf"(?<![^ ])(?=((?:\S+ ){{{n - 1}}}\S+))"
    grams = F.regexp_extract_all(text, F.lit(pat), 1)
    return F.when(F.size(grams) > 0, grams).otherwise(F.array(text))


def shingles_sql(text_expr: str, n: int = 3) -> str:
    """DuckDB twin of :func:`shingles` (1-based list_slice, inclusive)."""
    t = f"string_split({text_expr}, ' ')"
    return (
        f"list_transform(range(1, greatest(len({t}) - {n - 1}, 1) + 1), "
        f"i -> array_to_string(list_slice({t}, i, i + {n - 1}), ' '))"
    )


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------

N_HASHES = 8
BAND_SIZE = 2  # → 4 bands

# Bucket size above which lsh_candidate_pairs and lsh_incremental_pairs
# emit a keeper star instead of the full clique.
LSH_BUCKET_CAP = 64

# observe() metric names must be unique within a query; two
# bucket_pairs plans meeting in one query (e.g. compared in a test)
# would otherwise collide.
_obs_seq = 0


def _next_obs_name() -> str:
    global _obs_seq
    _obs_seq += 1
    return f"bucket_pairs_{_obs_seq}"


def bucket_pairs(grouped: DataFrame, cap: int) -> DataFrame:
    """(a, b): the candidate pairs inside each bucket of ``grouped``.

    ``grouped`` holds one row per bucket with ``ids``, a sorted,
    duplicate-free array of scalars or structs; buckets of fewer than
    2 ids emit nothing. A bucket of at most ``cap`` ids emits every
    pair a < b. A larger one emits the keeper star, ``ids[1]`` paired
    with every other id: n-1 pairs that keep the bucket connected,
    where the clique would put C(n,2) pairs on one task.

    Pairs are emitted per anchor: each row explodes its anchor
    positions (1..n-1, or only 1 above the cap), then each anchor's
    suffix slice, so a row holds O(bucket) values, never a C(n,2)
    array. Both cases are one conditional expression, not a union of
    two filtered branches, which would run the input plan once per
    branch. The plan carries the observe metrics ``oversized_buckets``
    (buckets over the cap) and ``max_bucket``.
    """
    n = F.size("ids")
    anchors = F.when(n <= cap, F.sequence(F.lit(1), n - 1)).otherwise(
        F.array(F.lit(1))
    )
    return (
        grouped.filter(n >= 2)
        .observe(
            _next_obs_name(),
            F.sum(F.when(n > cap, 1).otherwise(0)).alias("oversized_buckets"),
            F.max(n).alias("max_bucket"),
        )
        .select("ids", F.explode(anchors).alias("i"))
        .select(
            F.element_at("ids", F.col("i")).alias("a"),
            F.explode(F.slice("ids", F.col("i") + 1, n)).alias("b"),
        )
    )


def minhash_signature(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, mh_0..mh_{k-1}): k min-hashes, the i-th being the MIN
    over shingles of the i-th 4-hex-char slice of md5(shingle) — ONE
    digest per shingle instead of k seeded digests (8× less hashing on
    the hot explode; the 128-bit digest's disjoint 16-bit slices are
    independent hash functions). String minima for parity and
    engine-independence."""
    exploded = fan_out(docs).select(
        "doc_id", F.explode(shingles(F.col(text_col))).alias("shingle")
    ).withColumn("h", F.md5("shingle"))
    aggs = [
        F.min(F.substring("h", 4 * i + 1, 4)).alias(f"mh_{i}")
        for i in range(N_HASHES)
    ]
    return exploded.groupBy("doc_id").agg(*aggs)


def lsh_band_buckets(signature: DataFrame) -> DataFrame:
    """Signature → (doc_id, band, bucket): bucket = md5 of the band's
    concatenated min-hashes. Documents agreeing on ANY band collide."""
    bands = []
    for band_idx in range(N_HASHES // BAND_SIZE):
        cols = [
            F.col(f"mh_{band_idx * BAND_SIZE + j}") for j in range(BAND_SIZE)
        ]
        bands.append(
            F.struct(
                F.lit(band_idx).alias("band"),
                F.md5(F.concat_ws("|", *cols)).alias("bucket"),
            )
        )
    return signature.select(
        "doc_id", F.explode(F.array(*bands)).alias("b")
    ).select("doc_id", "b.band", "b.bucket")


def lsh_candidate_pairs(
    docs: DataFrame, bucket_cap: int = LSH_BUCKET_CAP
) -> DataFrame:
    """Distinct candidate pairs (a < b) sharing at least one LSH band
    bucket — the scalable near-dup candidate generator.

    Pairs come from each bucket's collected id list through
    :func:`bucket_pairs` instead of a bucket self-join: the signature
    pipeline runs ONCE (a self-join recomputes it per side — measured
    2× the work). LSH buckets are tiny by construction (a bucket = an
    exact band-signature match) EXCEPT on degenerate corpora (N
    boilerplate/error-template documents share every band bucket), so
    buckets larger than ``bucket_cap`` emit a keeper star: for dedup,
    candidate pairs only need to preserve the connected component, and
    a star does exactly that with linear output. Run exact dedup first
    (corpus_job does) so only true near-dups reach this stage.
    """
    buckets = lsh_band_buckets(minhash_signature(docs))
    grouped = buckets.groupBy("band", "bucket").agg(
        F.array_sort(F.collect_list("doc_id")).alias("ids")
    )
    return (
        bucket_pairs(grouped, bucket_cap)
        .select(F.col("a").alias("doc_a"), F.col("b").alias("doc_b"))
        .distinct()
    )


def _lsh_bucketed_sql() -> str:
    """The CTEs both MinHash-LSH twins share, ending in ``bucketed``:
    one row per (doc_id, band, bucket) with the bucket's size ``bsz``
    and smallest member ``keeper``, the inputs of the cap's keeper
    star."""
    mh_cols = ",\n      ".join(
        f"MIN(substr(md5(shingle), {4 * i + 1}, 4)) AS mh_{i}"
        for i in range(N_HASHES)
    )
    band_rows = " UNION ALL ".join(
        "SELECT doc_id, {band} AS band, md5({expr}) AS bucket FROM sig".format(
            band=b,
            expr=" || '|' || ".join(
                f"mh_{b * BAND_SIZE + j}" for j in range(BAND_SIZE)
            ),
        )
        for b in range(N_HASHES // BAND_SIZE)
    )
    return f"""exploded AS (
  SELECT doc_id, unnest({shingles_sql('text')}) AS shingle FROM documents
), sig AS (
  SELECT doc_id,
      {mh_cols}
  FROM exploded GROUP BY doc_id
), buckets AS (
  {band_rows}
), bucketed AS (
  SELECT doc_id, band, bucket,
         COUNT(*) OVER (PARTITION BY band, bucket) AS bsz,
         MIN(doc_id) OVER (PARTITION BY band, bucket) AS keeper
  FROM buckets
)"""


def minhash_lsh_sql(bucket_cap: int = LSH_BUCKET_CAP) -> str:
    """DuckDB oracle for the full MinHash+LSH candidate-pair pipeline.

    Replays :func:`lsh_candidate_pairs`' cap-with-keeper-star
    degradation (per-bucket COUNT/MIN window + ``bsz <= cap OR doc_a =
    keeper`` predicate, the knn_join_sql pattern): parity no longer
    silently depends on no LSH bucket exceeding the cap in the test
    corpora — every downstream oracle composing this query
    (components, pagerank, triangles, kcore, cluster_split,
    contrastive_triplets, …) inherits the replay.
    """
    return f"""
WITH {_lsh_bucketed_sql()}
-- full clique for buckets within the cap, keeper star above it
-- (a.doc_id < b.doc_id makes the keeper always the a side):
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
FROM bucketed a JOIN bucketed b
  ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
WHERE a.bsz <= {bucket_cap} OR a.doc_id = a.keeper
"""


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

_HIGH_HEX = ("8", "9", "a", "b", "c", "d", "e", "f")


def simhash(docs: DataFrame, bits: int = 16) -> DataFrame:
    """``bits``-bit SimHash: bit i = majority over tokens of the high
    bit of the token digest's i-th hex digit (one digit per bit).
    Digest: md5 (32 hex digits) for bits <= 32; sha2-256 (64 hex
    digits) for bits in (32, 64] — the r16 verdict's width rung: the
    32-bit layout's 2^16 block-key space measurably saturates at 500k
    docs (SCALE_NOTES), and 64-bit signatures with 32-bit blocks widen
    the key space to 2^32. Emitted as a ``bits``-char 0/1 string
    (engine-independent; no integer hex parsing needed)."""
    # An explicit raise, never a bare assert (stripped under ``python
    # -O``): bits past the digest width would silently read '' from
    # F.substring -> every extra bit reads 0 -> WRONG signatures.
    if bits > 64:
        raise ValueError(
            f"bits must be <= 64 (sha2-256 has 64 hex digits), got {bits}"
        )
    tokens = fan_out(docs).select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("token")
    ).filter(F.col("token") != "")
    # One digest per signature — mixing digests across bit positions
    # would make the signature depend on the width, breaking the
    # "widen without re-fingerprinting narrower deployments" property
    # for <=32-bit users while giving the wide rung its own stable hash.
    h = F.md5("token") if bits <= 32 else F.sha2(F.col("token"), 256)
    # Per-token digest bits as packed integer words (r19): hex digit i
    # is "high" iff >= 8, so ONE translate maps the digest to a 0/1
    # string and conv packs it into <=32-bit words; each per-bit
    # aggregate is then an integer shift-and-test. The previous form
    # ran substring(h, i+1, 1).isin(8 hex chars) inside all ``bits``
    # aggregates — bits × tokens short-string allocations per corpus
    # pass (the measured signature-aggregate floor of the r18
    # adjudication; 2.3 → 2.0 s at sf0.1, identical signatures).
    bit01 = F.translate(h, "0123456789abcdef", "0000000011111111")
    n_words = (bits + 31) // 32
    word_lens = [min(32, bits - j * 32) for j in range(n_words)]
    words = tokens.select(
        "doc_id",
        *[
            F.conv(F.substring(bit01, j * 32 + 1, word_lens[j]), 2, 10)
            .cast("long")
            .alias(f"w_{j}")
            for j in range(n_words)
        ],
    )

    # Per-bit aggregates and the signature concat as PARSED SQL text
    # (r20 construction-cost pass, guide §4 applied to the driver
    # process): the Column form spent ~6 py4j round-trips per bit —
    # ~400 of this query's ~6,000 construction round-trips — while one
    # F.expr per aggregate (and ONE for the concat) hands the same
    # expressions to the JVM parser wholesale. Values are identical:
    # same shift-and-test, same CASE arms, same left-to-right concat.
    def _bit_sum(i: int) -> str:
        j = i // 32
        shift = word_lens[j] - 1 - (i - j * 32)
        return (
            f"SUM(CASE WHEN (shiftright(w_{j}, {shift}) & 1) = 1 "
            f"THEN 1 ELSE -1 END) AS s_{i}"
        )

    per_doc = words.groupBy("doc_id").agg(
        F.expr(_bit_sum(0)),
        *[F.expr(_bit_sum(i)) for i in range(1, bits)],
    )
    sig = F.expr(
        "concat("
        + ", ".join(
            f"CASE WHEN s_{i} > 0 THEN '1' ELSE '0' END"
            for i in range(bits)
        )
        + ")"
    )
    return per_doc.select("doc_id", sig.alias("simhash"))


def simhash16(docs: DataFrame) -> DataFrame:
    """16-bit SimHash fingerprint (the compact scan-query form)."""
    return simhash(docs, bits=16)


def simhash_sql(bits: int = 16) -> str:
    # Digest selection mirrors :func:`simhash` exactly: md5 for
    # bits <= 32, sha256 for the wide rung (DuckDB's sha256() emits the
    # same lowercase hex as Spark's sha2(col, 256)).
    digest = "md5(token)" if bits <= 32 else "sha256(token)"
    bit_sums = ",\n      ".join(
        f"SUM(CASE WHEN substr({digest}, {i + 1}, 1) IN "
        f"('8','9','a','b','c','d','e','f') THEN 1 ELSE -1 END) AS s_{i}"
        for i in range(bits)
    )
    concat = " || ".join(
        f"(CASE WHEN s_{i} > 0 THEN '1' ELSE '0' END)" for i in range(bits)
    )
    return f"""
WITH tokens AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
), filtered AS (
  SELECT * FROM tokens WHERE token <> ''
), sums AS (
  SELECT doc_id,
      {bit_sums}
  FROM filtered GROUP BY doc_id
)
SELECT doc_id, {concat} AS simhash FROM sums
"""


def simhash16_sql() -> str:
    return simhash_sql(bits=16)


def _hamming(a: str, b: str, bits: int) -> Column:
    """Hamming distance between two bits-char 0/1 signature string
    COLUMNS (named by ``a``/``b``) — codegen'd substr compares,
    identical expression in the oracle. Built as one parsed SQL string:
    the Column form cost ~5 py4j round-trips per bit (~320 per call at
    64 bits; r20 construction-cost pass), the text form one."""
    return F.expr(
        " + ".join(
            f"(CASE WHEN substring({a}, {i + 1}, 1) != "
            f"substring({b}, {i + 1}, 1) THEN 1 ELSE 0 END)"
            for i in range(bits)
        )
    )


# Signature width for the near-dup pair op. 64-bit sha2-256 signatures
# with 32-bit blocks (2 blocks -> hamming<=1, 2^32 block-key space):
# the r16 500k-doc probe measured the previous 32/16 layout saturating
# (2^16 keys, max bucket 38,693, 3.38e9 uncapped candidates); 2^32 keys
# push saturation past any corpus where doc_id fits in a long.
SIMHASH_PAIR_BITS = 64
SIMHASH_PAIR_BLOCK = 32


def simhash_neardup_pairs(
    docs: DataFrame,
    max_hamming: int = 1,
    bucket_cap: int = 4096,
    bits: int = SIMHASH_PAIR_BITS,
    block: int = SIMHASH_PAIR_BLOCK,
) -> DataFrame:
    """Near-duplicate pairs by SimHash: block-LSH candidates verified by
    exact Hamming distance.

    Candidates: the 64-bit signature splits into two 32-bit halves; by
    pigeonhole, Hamming distance ≤ 1 implies the pair agrees on at least
    one half, so bucketing on (half_index, half_value) loses no true
    pair. Verification joins the signatures back and keeps pairs with
    exact Hamming ≤ ``max_hamming``.

    Signature width IS the scale knob: 8-bit blocks give at most 512
    buckets, so candidates grow ~n²/512 regardless of content (measured
    1.53M candidate pairs on 50k docs at sf0.1); 16-bit blocks widen the
    key space 256× (349k candidates on the same corpus) but saturate at
    500k docs (max bucket 38,698, 3.38e9 uncapped candidates); the
    default 32-bit blocks (2^32 keys, sha2-256 digests) measure max
    bucket 1,264 and 44.8M uncapped candidates on the same 500k-doc
    corpus — a 75× reduction (SCALE_NOTES.md, "Scale harness").
    Block-LSH candidate volume is governed by key-space size, not by
    the verifier.

    Scale shape mirrors lsh_candidate_pairs: per-bucket pairs from a
    collected sorted id list through :func:`bucket_pairs` (one
    signature pass, no self-join), with buckets over ``bucket_cap``
    degraded to keeper stars — linear output on degenerate corpora at
    the cost of completeness inside those buckets (connected components
    are preserved). Per-anchor emission makes the cap an OUTPUT bound
    (≤ C(cap,2) pairs from one degenerate bucket's task), not a per-row
    allocation bound, so the default 4096 sits above any measured
    realistic bucket (500k docs: max bucket 1,264), and the plan's
    ``oversized_buckets`` / ``max_bucket`` observe metrics make any
    completeness loss visible. (Minhash band buckets are near-exact
    matches and use a far smaller cap; simhash halves legitimately
    cluster, hence the larger default here.)

    ``bits``/``block`` parameterize the signature width and LSH block
    width, so a 100× corpus can widen without a source edit (32/8 gives
    4 blocks and full recall up to hamming 3). Recall guard: with
    ``bits // block`` blocks, pigeonhole only guarantees a shared block
    for hamming ≤ ``bits // block - 1``; a larger ``max_hamming`` would
    silently drop true pairs (identically in the SQL twin, so the oracle
    could not catch it) — raise instead.
    """
    if bits % block != 0:
        raise ValueError(f"block ({block}) must divide bits ({bits})")
    n_blocks = bits // block
    if max_hamming > n_blocks - 1:
        raise ValueError(
            f"max_hamming={max_hamming} exceeds the LSH recall bound "
            f"{n_blocks - 1} for {n_blocks} blocks ({bits}-bit / "
            f"{block}-bit); use >= {max_hamming + 1} blocks"
        )
    # The signature frame feeds THREE consumers (bucketing + both
    # sides of the verify join); an eager local checkpoint computes the
    # tokenize+hash pass once and serves all three from the persisted
    # RDD (a lazy checkpoint races: the consumer stages launch
    # concurrently and each computes the unpersisted RDD). At 100 TB
    # the signature table is exactly the intermediate you'd materialize
    # between the hash and pair stages.
    sigs = simhash(docs, bits=bits).localCheckpoint(eager=True)
    # One parsed unpivot expression (r20 construction-cost pass;
    # value-identical named_struct explode).
    halves = sigs.selectExpr(
        "doc_id",
        "explode(array("
        + ",".join(
            f"named_struct('block', {i}, 'key', "
            f"substring(simhash, {block * i + 1}, {block}))"
            for i in range(bits // block)
        )
        + ")) AS b",
    ).selectExpr("doc_id", "b.block AS block", "b.key AS key")
    grouped = halves.groupBy("block", "key").agg(
        F.array_sort(F.collect_list("doc_id")).alias("ids")
    )
    cand = (
        bucket_pairs(grouped, bucket_cap)
        .select(F.col("a").alias("doc_a"), F.col("b").alias("doc_b"))
        .distinct()
    )
    sa = sigs.select(F.col("doc_id").alias("doc_a"), F.col("simhash").alias("sig_a"))
    sb = sigs.select(F.col("doc_id").alias("doc_b"), F.col("simhash").alias("sig_b"))
    # Broadcast the signature table into the verify join: candidates
    # outnumber documents by orders of magnitude, so shuffling the
    # candidate set twice for two sort-merge joins is the wrong side
    # to move. The signature table is ~doc_id + bits/8 bytes per doc;
    # for corpora past broadcast size, pre-bucket both sides on doc id
    # ranges instead.
    return (
        cand.join(F.broadcast(sa), on="doc_a")
        .join(F.broadcast(sb), on="doc_b")
        .select(
            "doc_a",
            "doc_b",
            _hamming("sig_a", "sig_b", bits).cast("long").alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
    )


def simhash_neardup_sql() -> str:
    """DuckDB twin of :func:`simhash_neardup_pairs` at its default
    widths (uncapped — the cap only alters degenerate corpora the
    oracle tables don't contain)."""
    block = SIMHASH_PAIR_BLOCK
    ham = " + ".join(
        f"(CASE WHEN substr(a.simhash, {i + 1}, 1) <> substr(b.simhash, {i + 1}, 1)"
        " THEN 1 ELSE 0 END)"
        for i in range(SIMHASH_PAIR_BITS)
    )
    blocks = "\n  UNION ALL\n".join(
        f"  SELECT doc_id, {i} AS block,"
        f" substr(simhash, {block * i + 1}, {block}) AS key FROM sigs"
        for i in range(SIMHASH_PAIR_BITS // block)
    )
    return f"""
WITH sigs AS ({simhash_sql(bits=SIMHASH_PAIR_BITS)}),
blocks AS (
{blocks}
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM blocks a JOIN blocks b
    ON a.block = b.block AND a.key = b.key AND a.doc_id < b.doc_id
)
SELECT c.doc_a, c.doc_b, CAST({ham} AS BIGINT) AS hamming
FROM cand c
JOIN sigs a ON a.doc_id = c.doc_a
JOIN sigs b ON b.doc_id = c.doc_b
WHERE {ham} <= 1
"""


# ---------------------------------------------------------------------------
# LSH quality metrics (precision / recall vs exact Jaccard)
# ---------------------------------------------------------------------------


def lsh_quality_metrics(
    docs: DataFrame,
    candidates: DataFrame | None = None,
    pair_core: DataFrame | None = None,
) -> DataFrame:
    """One-row quality report for the MinHash+LSH candidate generator —
    the "measure, don't guess" check that should accompany any
    approximate dedup before it runs at 100 TB:

    - ``precision``: fraction of LSH candidate pairs whose EXACT corpus-
      wide shingle Jaccard clears 0.1 (via
      :func:`jaccard_verify_pairs`).
    - ``recall``: fraction of the blocked exact-Jaccard duplicate pairs
      (:func:`ngram_jaccard_pairs` ground truth, (lang, source) blocks
      with stop-gram exclusion) that LSH also surfaced.

    The two references differ deliberately — verify is corpus-wide and
    uncapped (what a production verify stage computes on candidates),
    truth is the blocked discriminative-shingle formulation (the only
    exact pair set computable without an O(n²) sweep) — so precision
    and recall are each well-defined against their own denominator.

    Scale shape: candidates are persisted and reused by both branches
    (the signature pipeline runs once); everything downstream joins on
    doc ids or (doc_a, doc_b) — no new pair space is created. With an
    OWNED candidate build the report is EAGER (one row, computed here)
    so the candidate cache can be released before returning — a lazy
    return would leak the persist for the session or force a recompute
    per downstream action. With caller-provided frames (the memoized
    hubs) there is nothing to release and the report stays lazy (r20);
    that lazy report re-runs in full on every action, so collect it
    once.
    """
    # ``candidates`` lets callers hand in an already-materialized pair
    # frame (the query layer's session-memoized _lsh_pairs hub — r17:
    # without it, this audit rebuilt the identical candidate pipeline
    # the hub already holds, ~2 s per bench rep). An owned build is
    # persisted AND unpersisted here; a caller-provided frame is the
    # caller's storage to manage.
    owned = candidates is None
    cand = (
        lsh_candidate_pairs(docs).persist()
        if owned
        else candidates
    )
    try:
        verified = jaccard_verify_pairs(docs, cand)
        # ``pair_core``: an already-materialized block_pair_intersections
        # frame (the _pair_core hub) — the truth branch is exactly its
        # jaccard scoring at 0.1, so a provided core skips the
        # corpus-wide shingle-equality join rebuild.
        truth = (
            jaccard_from_intersections(pair_core)
            if pair_core is not None
            else ngram_jaccard_pairs(docs)
        )
        matched = truth.join(cand, on=["doc_a", "doc_b"], how="left_semi")
        # ONE tagged-union aggregate instead of four separate aggregate
        # jobs crossJoined together (r20): the old shape scheduled 14
        # jobs for a one-row report — each ~50-100 ms of fixed driver
        # cost at bench SF, and pure scheduler overhead at any scale.
        # Each branch is pruned to a constant tag column, so the union
        # moves 4 branch row-counts' worth of 1-byte tags into a single
        # conditional count pass. Counts are identical (count(when)
        # counts non-nulls, exactly count(*) per tag).
        tagged = (
            cand.select(F.lit("c").alias("_k"))
            .unionByName(verified.select(F.lit("v").alias("_k")))
            .unionByName(truth.select(F.lit("t").alias("_k")))
            .unionByName(matched.select(F.lit("m").alias("_k")))
        )
        counts = tagged.agg(
            F.count(F.when(F.col("_k") == "c", 1)).alias("n_candidates"),
            F.count(F.when(F.col("_k") == "v", 1)).alias("n_verified"),
            F.count(F.when(F.col("_k") == "t", 1)).alias("n_truth"),
            F.count(F.when(F.col("_k") == "m", 1)).alias("n_truth_matched"),
        )
        report = counts.select(
            "n_candidates",
            "n_verified",
            F.round(
                F.try_divide(F.col("n_verified"), F.col("n_candidates")), 6
            ).alias("precision"),
            "n_truth",
            "n_truth_matched",
            F.round(
                F.try_divide(F.col("n_truth_matched"), F.col("n_truth")), 6
            ).alias("recall"),
        )
        if not owned:
            # Hub-provided candidates: nothing to release, so the report
            # stays LAZY — the builder runs no jobs (r20; the eager
            # collect existed only so an owned candidate cache could be
            # freed before returning).
            return report
        rows = report.collect()
        return local_frame(docs.sparkSession, rows, report.schema)
    finally:
        if owned:
            cand.unpersist()


def lsh_quality_metrics_sql() -> str:
    """DuckDB twin: candidates from :func:`minhash_lsh_sql`, corpus-wide
    verify jaccard inline, truth from :func:`ngram_jaccard_sql`."""
    return f"""
WITH cand AS ({minhash_lsh_sql()}),
truth AS ({ngram_jaccard_sql()}),
sh AS (
  SELECT DISTINCT doc_id, shingle FROM (
    SELECT doc_id, unnest({shingles_sql('text')}) AS shingle FROM documents
  )
), sizes AS (
  SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1
), common AS (
  SELECT c.doc_a, c.doc_b, COUNT(*) AS n_common
  FROM cand c
  JOIN sh a ON a.doc_id = c.doc_a
  JOIN sh b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
  GROUP BY 1, 2
), verified AS (
  SELECT c.doc_a, c.doc_b
  FROM common c
  JOIN sizes sa ON sa.doc_id = c.doc_a
  JOIN sizes sb ON sb.doc_id = c.doc_b
  WHERE ROUND(CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common), 6)
        >= 0.1
), matched AS (
  SELECT t.doc_a FROM truth t
  WHERE EXISTS (SELECT 1 FROM cand c
                WHERE c.doc_a = t.doc_a AND c.doc_b = t.doc_b)
)
SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM cand) AS n_candidates,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM verified) AS n_verified,
       ROUND(CAST((SELECT COUNT(*) FROM verified) AS DOUBLE)
             / NULLIF((SELECT COUNT(*) FROM cand), 0), 6) AS precision,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM truth) AS n_truth,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM matched) AS n_truth_matched,
       ROUND(CAST((SELECT COUNT(*) FROM matched) AS DOUBLE)
             / NULLIF((SELECT COUNT(*) FROM truth), 0), 6) AS recall
"""


# ---------------------------------------------------------------------------
# Segment-level (paragraph) dedup — CCNet-style
# ---------------------------------------------------------------------------

SEGMENT_TOKENS = 8


def segment_dedup(docs: DataFrame) -> DataFrame:
    """Paragraph-granularity dedup (the CCNet recipe, with fixed
    ``SEGMENT_TOKENS``-token windows standing in for paragraphs — the corpus
    has no newline structure): hash every non-overlapping segment, keep
    only the FIRST corpus-wide occurrence of each distinct segment
    (ordered by (doc_id, seg_idx) — deterministic, engine-independent),
    and reassemble each document from its surviving segments.

    Returns (doc_id, n_segments, n_kept, dedup_text); a document whose
    every segment already appeared elsewhere keeps ``dedup_text = ''``
    (dropping it is the caller's policy decision).

    Scale shape: segmentation is a per-row array transform (no shuffle);
    first-occurrence ranking is ONE row_number window partitioned by the
    segment hash (uniform key — md5 — so skew-free); reassembly is ONE
    groupBy(doc_id). Two bounded shuffles total, no pair joins, and the
    shuffled payload is segments (≈ corpus size), never pairs.
    """
    tokens = F.split(F.col("text"), " ")
    n_seg = F.greatest(
        F.ceil(F.size(tokens) / F.lit(SEGMENT_TOKENS)), F.lit(1)
    ).cast("int")
    segs = F.transform(
        F.sequence(F.lit(0), n_seg - 1),
        lambda i: F.struct(
            i.alias("seg_idx"),
            F.array_join(
                F.slice(tokens, i * SEGMENT_TOKENS + 1, SEGMENT_TOKENS), " "
            ).alias("seg"),
        ),
    )
    exploded = (
        fan_out(docs)
        .select("doc_id", F.explode(segs).alias("s"))
        .select("doc_id", "s.seg_idx", "s.seg")
        .withColumn("h", F.md5("seg"))
    )
    w = Window.partitionBy("h").orderBy("doc_id", "seg_idx")
    ranked = exploded.withColumn("rn", F.row_number().over(w))
    kept = F.when(F.col("rn") == 1, F.struct("seg_idx", "seg"))
    return ranked.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_segments"),
        F.sum(F.when(F.col("rn") == 1, 1).otherwise(0)).alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(kept)), lambda s: s["seg"]
            ),
            " ",
        ).alias("dedup_text"),
    )


def segment_dedup_sql() -> str:
    """DuckDB twin of :func:`segment_dedup` (1-based list_slice)."""
    t = "string_split(text, ' ')"
    k = SEGMENT_TOKENS
    return f"""
WITH segs AS (
  SELECT doc_id, s.seg_idx AS seg_idx, s.seg AS seg, md5(s.seg) AS h
  FROM (
    SELECT doc_id, unnest(list_transform(
        range(0, greatest(CAST(ceil(len({t}) / {k}.0) AS BIGINT), 1)),
        i -> struct_pack(
            seg_idx := i,
            seg := array_to_string(
                list_slice({t}, i * {k} + 1, i * {k} + {k}), ' ')))) AS s
    FROM documents
  )
), ranked AS (
  SELECT *, ROW_NUMBER() OVER (
      PARTITION BY h ORDER BY doc_id, seg_idx) AS rn
  FROM segs
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_segments,
       CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       COALESCE(string_agg(seg, ' ' ORDER BY seg_idx)
                FILTER (WHERE rn = 1), '') AS dedup_text
FROM ranked GROUP BY doc_id
"""


# ---------------------------------------------------------------------------
# Substring-level duplication (cross-document repeated spans)
# ---------------------------------------------------------------------------

SPAN_TOKENS = 10


def _span_exprs(k: int):
    """Shared column expressions for the span family: the filtered
    token array, its size, and the (pos, md5(k-gram)) struct array.
    sequence(1, n) with n < 1 would generate a DESCENDING range, so
    short documents yield an empty position array explicitly."""
    toks = F.filter(F.split(F.col("text"), " "), lambda x: x != "")
    n_toks = F.size(toks)
    positions = F.when(
        n_toks >= k, F.sequence(F.lit(1), n_toks - F.lit(k - 1))
    ).otherwise(F.array().cast("array<int>"))
    spans = F.transform(
        positions,
        lambda i: F.struct(
            i.alias("pos"),
            F.md5(F.array_join(F.slice(toks, i, k), " ")).alias("g"),
        ),
    )
    return toks, n_toks, spans


def _cross_doc_hits(
    grams: DataFrame, min_docs: int, losers_only: bool
) -> DataFrame:
    """The span family's ONE window pass over the span digest, shared
    by duplicated_spans / excise_duplicated_spans /
    excise_duplicated_spans_intervals so the three forms cannot
    diverge (round-13 review finding — the spill fix below had been
    hand-copied to three sites).

    Cross-document test: min(doc_id) != max(doc_id) over the span's
    occurrences for the default min_docs=2 (constant memory); for
    min_docs > 2 a dense_rank over (g, doc_id) + frame-max counts
    distinct docs with constant-size aggregation buffers — NEVER
    collect_set over the window, whose buffer would be corpus-scale
    for a corpus-wide boilerplate span and cannot spill.

    ``losers_only``: additionally elect the corpus-wide FIRST
    occurrence (row_number over (g ORDER BY doc_id, pos)) as keeper
    and return only the non-keeper hit positions.
    """
    w_g = Window.partitionBy("g").orderBy("doc_id", "pos")
    w_all = w_g.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    if min_docs == 2:
        out = grams.withColumn(
            "_x",
            F.min("doc_id").over(w_all) != F.max("doc_id").over(w_all),
        )
    else:
        w_docs = Window.partitionBy("g").orderBy("doc_id")
        out = (
            grams.withColumn("_dr", F.dense_rank().over(w_docs))
            .withColumn("_x", F.max("_dr").over(w_all) >= min_docs)
            .drop("_dr")
        )
    if losers_only:
        out = (
            out.withColumn("rn", F.row_number().over(w_g))
            .filter((F.col("rn") > 1) & F.col("_x"))
            .drop("rn")
        )
    else:
        out = out.filter(F.col("_x"))
    return out.drop("_x")


def duplicated_spans(
    docs: DataFrame, k: int = SPAN_TOKENS, min_docs: int = 2
) -> DataFrame:
    """Substring-level dedup signal (the ExactSubstr recipe of Lee et
    al. 2021, "Deduplicating Training Data Makes Language Models
    Better", approximated at k-token granularity): find every k-token
    span occurring in ≥ ``min_docs`` DISTINCT documents, merge each
    document's duplicated span positions into maximal intervals
    (gaps-and-islands), and report per-document coverage — the exact
    numbers a span-excision pass would act on. Distinct from
    ``segment_dedup`` (non-overlapping fixed segments, first-occurrence
    policy) and ``hot_ngram_flags`` (df-threshold flags): this measures
    arbitrary-position OVERLAPPING span sharing, the boilerplate/quote
    duplication that survives document- and segment-level dedup.

    Returns (doc_id, n_dup_positions, n_spans, dup_tokens, n_tokens,
    dup_fraction) for documents with at least one duplicated span.

    Scale shape: the corpus explodes once to (doc, pos, md5(span)) —
    corpus × avg_tokens rows, the bigram-LM order of magnitude; the
    cross-document test rides ONE window shuffle on the span digest
    (md5 → uniform keys, skew-free; min != max over the span's
    occurrences for the default min_docs=2 — constant memory), so the
    corpus is hashed exactly once (the previous agg-then-join form
    re-scanned it per branch); interval merging is one doc-keyed
    window. Two shuffles, no pair joins. md5 rather than xxhash64 so
    the DuckDB oracle computes byte-identical keys; production would
    swap in xxhash64 (same plan, half the shuffle bytes).
    """
    _, n_toks, spans = _span_exprs(k)
    grams = (
        fan_out(docs)
        .select(
            "doc_id",
            n_toks.cast("long").alias("n_tokens"),
            F.explode(spans).alias("s"),
        )
        .select("doc_id", "n_tokens", "s.pos", "s.g")
    )
    # Duplication test via ONE window pass over g instead of a
    # groupBy-then-join (round 12: the join form computed the corpus
    # k-gram md5 twice — each branch re-scanned the corpus); shared
    # core in _cross_doc_hits.
    hits = _cross_doc_hits(grams, min_docs, losers_only=False)
    w = Window.partitionBy("doc_id").orderBy("pos")
    # Two length-k spans at p1 < p2 cover a contiguous token range iff
    # p2 <= p1 + k; a larger gap starts a new island.
    prev = F.lag("pos").over(w)
    island = F.sum(
        F.when(prev.isNull() | (F.col("pos") - prev > k), 1).otherwise(0)
    ).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
    islands = hits.withColumn("island", island)
    per_span = islands.groupBy("doc_id", "island").agg(
        F.count(F.lit(1)).alias("n_pos"),
        F.min("pos").alias("lo"),
        F.max("pos").alias("hi"),
        F.max("n_tokens").alias("n_tokens"),
    )
    return per_span.groupBy("doc_id").agg(
        F.sum("n_pos").alias("n_dup_positions"),
        F.count(F.lit(1)).alias("n_spans"),
        F.sum(F.col("hi") + F.lit(k) - F.col("lo")).alias("dup_tokens"),
        F.max("n_tokens").alias("n_tokens"),
        F.round(
            F.sum(F.col("hi") + F.lit(k) - F.col("lo")).cast("double")
            / F.max("n_tokens"),
            6,
        ).alias("dup_fraction"),
    )


def excise_duplicated_spans(
    docs: DataFrame, k: int = SPAN_TOKENS, min_docs: int = 2
) -> DataFrame:
    """The ACTION half of :func:`duplicated_spans` (Lee et al. 2021's
    ExactSubstr cut, at k-token granularity): for every cross-document
    duplicated span, the corpus-wide FIRST occurrence (ordered by
    (doc_id, pos) — deterministic, engine-independent) keeps its copy;
    every other occurrence is excised. Non-keeper hit positions merge
    into maximal intervals per document and the covered tokens are cut;
    each document is reassembled from its surviving tokens.

    Returns (doc_id, n_tokens, n_removed, dedup_text) for EVERY
    document (no silent drops — untouched docs come back verbatim with
    n_removed = 0, house rule shared with segment_dedup).

    NOT idempotent by design (round-13 fuzz finding, pinned in
    tests/test_dedup_edges.py::test_excise_seam_duplicates_need_iteration):
    cutting a span can make the residual document equal another
    document ("seam" duplicates), which only a SECOND pass sees. This
    matches the published ExactSubstr behavior — production runs
    iterate to convergence, which is guaranteed (total tokens strictly
    decrease while anything is removed).

    Scale shape: duplicated_spans' plan plus ONE row_number window on
    the span digest (uniform md5 key, skew-free) for keeper election
    and ONE left join of the corpus against its per-doc interval lists
    (equi-join on doc_id). The token-level cut is a per-row lambda over
    (token, interval-list) — no shuffle of its own.
    """
    toks, _, spans = _span_exprs(k)
    base = fan_out(docs).select("doc_id", toks.alias("toks"), spans.alias("spans"))
    grams = base.select("doc_id", F.explode("spans").alias("s")).select(
        "doc_id", "s.pos", "s.g"
    )
    # Duplication test + keeper election in ONE window pass over g
    # (round 12: the groupBy-then-join form computed the corpus k-gram
    # md5 TWICE); shared core in _cross_doc_hits — the corpus-wide
    # first occurrence of each span survives, only NON-keeper
    # occurrences generate cut intervals.
    losers = _cross_doc_hits(grams, min_docs, losers_only=True)
    w_d = Window.partitionBy("doc_id").orderBy("pos")
    prev = F.lag("pos").over(w_d)
    island = F.sum(
        F.when(prev.isNull() | (F.col("pos") - prev > k), 1).otherwise(0)
    ).over(w_d.rowsBetween(Window.unboundedPreceding, Window.currentRow))
    intervals = (
        losers.withColumn("island", island)
        .groupBy("doc_id", "island")
        .agg(F.min("pos").alias("lo"), (F.max("pos") + F.lit(k - 1)).alias("hi"))
        .groupBy("doc_id")
        .agg(
            F.array_sort(F.collect_list(F.struct("lo", "hi"))).alias("ivs")
        )
    )
    cut = base.join(intervals, on="doc_id", how="left").withColumn(
        "ivs",
        F.coalesce(
            "ivs", F.array().cast("array<struct<lo:int,hi:bigint>>")
        ),
    )
    survivors = F.filter(
        F.transform(
            F.col("toks"),
            lambda x, i: F.struct(x.alias("tok"), (i + 1).alias("pos")),
        ),
        lambda s: ~F.exists(
            F.col("ivs"),
            lambda iv: (s["pos"] >= iv["lo"]) & (s["pos"] <= iv["hi"]),
        ),
    )
    return cut.select(
        "doc_id",
        F.size("toks").cast("long").alias("n_tokens"),
        (F.size("toks") - F.size(survivors)).cast("long").alias("n_removed"),
        F.array_join(
            F.transform(survivors, lambda s: s["tok"]), " "
        ).alias("dedup_text"),
    )


def excise_duplicated_spans_intervals(
    docs: DataFrame, k: int = SPAN_TOKENS
) -> DataFrame:
    """The SCALE-PATH form of :func:`excise_duplicated_spans` (round-13
    verdict item 4): same keeper election and island arithmetic, but
    the output is the per-document CUT PLAN — (doc_id, n_tokens,
    n_removed, n_intervals, cuts) where ``cuts`` is the sorted
    ``lo:hi,...`` interval list — never the reassembled text. Only
    documents with at least one cut are emitted.

    Why it exists: the full-text form's dominant cost at 10× data
    (ratio 8.45, the registry's worst) is materializing the token-grain
    ``dedup_text`` reconstruction — pure output width, not plan shape.
    A 100 TB excision pipeline wants exactly this intervals table: it
    is tiny (cut docs only, a few ints + a short string per doc), joins
    back to the corpus by doc_id, and the actual text surgery runs
    inside the final rewrite scan. Islands are separated by a gap > k,
    so the token intervals [lo, lo+k-1]..[hi] are provably disjoint and
    ``n_removed = Σ (hi - lo + 1)`` without touching the tokens.

    Plan: the grams/losers window pass of the full-text form (one
    shuffle on the uniform md5 span digest), one doc-keyed window for
    islands, one groupBy — and NO corpus-wide base join, NO token
    arrays carried past the explode.
    """
    _, n_toks, spans = _span_exprs(k)
    grams = (
        fan_out(docs)
        .select(
            "doc_id",
            n_toks.cast("long").alias("n_tokens"),
            F.explode(spans).alias("s"),
        )
        .select("doc_id", "n_tokens", "s.pos", "s.g")
    )
    losers = _cross_doc_hits(grams, 2, losers_only=True)
    w_d = Window.partitionBy("doc_id").orderBy("pos")
    prev = F.lag("pos").over(w_d)
    island = F.sum(
        F.when(prev.isNull() | (F.col("pos") - prev > k), 1).otherwise(0)
    ).over(w_d.rowsBetween(Window.unboundedPreceding, Window.currentRow))
    ivs = (
        losers.withColumn("island", island)
        .groupBy("doc_id", "island")
        .agg(
            F.min("pos").alias("lo"),
            (F.max("pos") + F.lit(k - 1)).alias("hi"),
            F.max("n_tokens").alias("n_tokens"),
        )
    )
    return ivs.groupBy("doc_id").agg(
        F.max("n_tokens").cast("long").alias("n_tokens"),
        F.sum(F.col("hi") - F.col("lo") + 1).cast("long").alias("n_removed"),
        F.count(F.lit(1)).cast("long").alias("n_intervals"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("lo", "hi"))),
                lambda iv: F.concat_ws(
                    ":",
                    iv["lo"].cast("string"),
                    iv["hi"].cast("string"),
                ),
            ),
            ",",
        ).alias("cuts"),
    )


def excise_duplicated_spans_intervals_sql() -> str:
    """DuckDB twin of :func:`excise_duplicated_spans_intervals` — same
    keeper election, same island arithmetic, arithmetic n_removed."""
    k = SPAN_TOKENS
    t = "list_filter(string_split(text, ' '), x -> x <> '')"
    return f"""
WITH t AS (
  SELECT doc_id, {t} AS toks FROM documents
), grams AS (
  SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens, i AS pos,
         md5(array_to_string(list_slice(toks, i, i + {k} - 1), ' ')) AS g
  FROM t, unnest(range(1, greatest(len(toks) - {k} + 2, 1))) AS u(i)
), dup AS (
  SELECT g FROM grams GROUP BY g HAVING COUNT(DISTINCT doc_id) >= 2
), losers AS (
  SELECT doc_id, n_tokens, pos FROM (
    SELECT doc_id, n_tokens, pos,
           ROW_NUMBER() OVER (PARTITION BY g ORDER BY doc_id, pos) AS rn
    FROM grams WHERE g IN (SELECT g FROM dup)
  ) WHERE rn > 1
), isl AS (
  SELECT doc_id, n_tokens, pos,
         SUM(CASE WHEN prev IS NULL OR pos - prev > {k} THEN 1 ELSE 0 END)
           OVER (PARTITION BY doc_id ORDER BY pos
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
  FROM (SELECT doc_id, n_tokens, pos,
               LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
        FROM losers)
), ivs AS (
  SELECT doc_id, island, MIN(pos) AS lo, MAX(pos) + {k - 1} AS hi,
         MAX(n_tokens) AS n_tokens
  FROM isl GROUP BY doc_id, island
)
SELECT doc_id,
       CAST(MAX(n_tokens) AS BIGINT) AS n_tokens,
       CAST(SUM(hi - lo + 1) AS BIGINT) AS n_removed,
       CAST(COUNT(*) AS BIGINT) AS n_intervals,
       string_agg(CAST(lo AS VARCHAR) || ':' || CAST(hi AS VARCHAR),
                  ',' ORDER BY lo) AS cuts
FROM ivs GROUP BY doc_id
"""


def excise_duplicated_spans_sql() -> str:
    """DuckDB twin of :func:`excise_duplicated_spans` — same keeper
    election, same island arithmetic, same token-position cut."""
    k = SPAN_TOKENS
    t = "list_filter(string_split(text, ' '), x -> x <> '')"
    return f"""
WITH t AS (
  SELECT doc_id, {t} AS toks FROM documents
), grams AS (
  SELECT doc_id, i AS pos,
         md5(array_to_string(list_slice(toks, i, i + {k} - 1), ' ')) AS g
  FROM t, unnest(range(1, greatest(len(toks) - {k} + 2, 1))) AS u(i)
), dup AS (
  SELECT g FROM grams GROUP BY g HAVING COUNT(DISTINCT doc_id) >= 2
), losers AS (
  SELECT doc_id, pos FROM (
    SELECT doc_id, pos,
           ROW_NUMBER() OVER (PARTITION BY g ORDER BY doc_id, pos) AS rn
    FROM grams WHERE g IN (SELECT g FROM dup)
  ) WHERE rn > 1
), isl AS (
  SELECT doc_id, pos,
         SUM(CASE WHEN prev IS NULL OR pos - prev > {k} THEN 1 ELSE 0 END)
           OVER (PARTITION BY doc_id ORDER BY pos
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
  FROM (SELECT doc_id, pos,
               LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
        FROM losers)
), ivs AS (
  SELECT doc_id, list_sort(list(struct_pack(
           lo := lo, hi := hi))) AS ivs
  FROM (SELECT doc_id, island, MIN(pos) AS lo, MAX(pos) + {k - 1} AS hi
        FROM isl GROUP BY doc_id, island)
  GROUP BY doc_id
)
SELECT t.doc_id,
       CAST(len(t.toks) AS BIGINT) AS n_tokens,
       CAST(len(t.toks) - len(list_filter(t.toks, (x, i) ->
         len(list_filter(COALESCE(ivs.ivs, []),
             iv -> i >= iv.lo AND i <= iv.hi)) = 0)) AS BIGINT)
         AS n_removed,
       COALESCE(array_to_string(list_filter(t.toks, (x, i) ->
         len(list_filter(COALESCE(ivs.ivs, []),
             iv -> i >= iv.lo AND i <= iv.hi)) = 0), ' '), '') AS dedup_text
FROM t LEFT JOIN ivs ON t.doc_id = ivs.doc_id
"""


def duplicated_spans_sql() -> str:
    """DuckDB twin of :func:`duplicated_spans` — identical md5 span
    keys (1-based inclusive list_slice ≡ Spark's 1-based slice) and
    identical island arithmetic."""
    k = SPAN_TOKENS
    t = "list_filter(string_split(text, ' '), x -> x <> '')"
    return f"""
WITH t AS (
  SELECT doc_id, {t} AS toks FROM documents
), grams AS (
  SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens, i AS pos,
         md5(array_to_string(list_slice(toks, i, i + {k} - 1), ' ')) AS g
  FROM t, unnest(range(1, greatest(len(toks) - {k} + 2, 1))) AS u(i)
), dup AS (
  SELECT g FROM grams GROUP BY g HAVING COUNT(DISTINCT doc_id) >= 2
), hits AS (
  SELECT doc_id, n_tokens, pos,
         LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
  FROM grams WHERE g IN (SELECT g FROM dup)
), isl AS (
  SELECT doc_id, n_tokens, pos,
         SUM(CASE WHEN prev IS NULL OR pos - prev > {k} THEN 1 ELSE 0 END)
           OVER (PARTITION BY doc_id ORDER BY pos
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
  FROM hits
), spans AS (
  SELECT doc_id, island, COUNT(*) AS n_pos, MIN(pos) AS lo, MAX(pos) AS hi,
         MAX(n_tokens) AS n_tokens
  FROM isl GROUP BY doc_id, island
)
SELECT doc_id,
       CAST(SUM(n_pos) AS BIGINT) AS n_dup_positions,
       CAST(COUNT(*) AS BIGINT) AS n_spans,
       CAST(SUM(hi + {k} - lo) AS BIGINT) AS dup_tokens,
       MAX(n_tokens) AS n_tokens,
       ROUND(CAST(SUM(hi + {k} - lo) AS DOUBLE) / MAX(n_tokens), 6)
         AS dup_fraction
FROM spans GROUP BY doc_id
"""


# ---------------------------------------------------------------------------
# Hot-n-gram flagging (corpus-frequency contamination signal)
# ---------------------------------------------------------------------------


def hot_ngram_flags(
    docs: DataFrame, hot_df: int = 4, flag_frac: float = 0.2
) -> DataFrame:
    """Per-document boilerplate signal from corpus-wide n-gram document
    frequency (the repeated-substring signal of Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better", at
    shingle granularity): a shingle is HOT when it occurs in more than
    ``hot_df`` documents; a document is flagged when ≥ ``flag_frac`` of
    its distinct shingles are hot. Catches template/boilerplate text
    that exact and near-dup pair generators miss (no single pair is
    similar, but every copy shares the hot core).

    Scale shape: distinct (doc, shingle) → ONE count window partitioned
    by shingle (uniform text key) → ONE groupBy(doc_id). No joins, no
    pair space; cost linear in corpus shingles.
    """
    sh = (
        fan_out(docs)
        .select(
            "doc_id", F.explode(shingles(F.col("text"))).alias("shingle")
        )
        .distinct()
    )
    per = sh.withColumn(
        "df", F.count(F.lit(1)).over(Window.partitionBy("shingle"))
    )
    agg = per.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_shingles"),
        F.sum(F.when(F.col("df") > hot_df, 1).otherwise(0)).alias("n_hot"),
    )
    hot_frac = F.round(F.try_divide(F.col("n_hot"), F.col("n_shingles")), 6)
    return agg.select(
        "doc_id",
        "n_shingles",
        "n_hot",
        hot_frac.alias("hot_frac"),
        (hot_frac >= flag_frac).alias("flagged"),
    )


def hot_ngram_flags_sql() -> str:
    frac = "ROUND(CAST(n_hot AS DOUBLE) / NULLIF(n_shingles, 0), 6)"
    return f"""
WITH sh AS (
  SELECT DISTINCT doc_id, shingle FROM (
    SELECT doc_id, unnest({shingles_sql('text')}) AS shingle
    FROM documents
  )
), with_df AS (
  SELECT doc_id, COUNT(*) OVER (PARTITION BY shingle) AS df FROM sh
), agg AS (
  SELECT doc_id,
         CAST(COUNT(*) AS BIGINT) AS n_shingles,
         CAST(SUM(CASE WHEN df > 4 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_hot
  FROM with_df GROUP BY doc_id
)
SELECT doc_id, n_shingles, n_hot,
       {frac} AS hot_frac,
       ({frac} >= 0.2) AS flagged
FROM agg
"""


# ---------------------------------------------------------------------------
# n-gram Jaccard verification
# ---------------------------------------------------------------------------

# The blocking key of the exact set-overlap family: only documents of the
# same language and source are compared.
BLOCK_COLS = ("lang", "source")


def ngram_jaccard_pairs(
    docs: DataFrame, threshold: float = 0.1, max_doc_freq: int = 64
) -> DataFrame:
    """Exact Jaccard over distinct 3-gram shingle sets for pairs inside a
    blocking key (the verify stage for LSH candidates). Jaccard =
    |A∩B| / (|A|+|B|-|A∩B|), intersections via a shingle-equality join.

    ``max_doc_freq``: shingles appearing in more than this many documents
    within a block are excluded from BOTH intersections and set sizes
    (stop-gram exclusion) — the semantics are "Jaccard over
    discriminative shingles". This bounds the per-shingle combination
    explode: without it, N boilerplate documents sharing every shingle
    put an O(N²) explode on one task. Corpora with that shape should run
    exact dedup first (corpus_job does); docs whose shingles are ALL
    ultra-common simply produce no pairs here.
    """
    with_sizes = block_pair_intersections(docs, max_doc_freq)
    return jaccard_from_intersections(with_sizes, threshold)


def jaccard_from_intersections(
    with_sizes: DataFrame, threshold: float = 0.1
) -> DataFrame:
    """Jaccard scoring over a block_pair_intersections frame — split out
    so callers that need BOTH symmetric and asymmetric overlap (the
    registry runs dedup_ngram_jaccard and dedup_containment over the
    same corpus) can materialize the shared core once."""
    jac = F.col("n_common") / (
        F.col("size_a") + F.col("size_b") - F.col("n_common")
    )
    return (
        with_sizes.withColumn("jaccard", F.round(jac, 6))
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "n_common", "jaccard")
    )


def block_pair_intersections(docs: DataFrame, max_doc_freq: int) -> DataFrame:
    """Shared core of the exact set-overlap family: per-block distinct
    shingles → df-capped combination lists → pair intersection counts
    joined with both per-doc set sizes. Returns (doc_a, doc_b,
    n_common, size_a, size_b)."""
    sh = fan_out(docs).select(
        "doc_id",
        *BLOCK_COLS,
        F.explode(shingles(F.col("text"))).alias("shingle"),
    ).distinct()
    # Intersections via per-(block, shingle) combination lists instead of
    # a shingle self-join (the join recomputed the explode per side — 4
    # scans measured, 2 now). Per-doc set sizes are re-derived from the
    # kept lists (one exploded pass) so the df-cap applies consistently
    # to numerator and denominator — deliberately NOT a window over the
    # shingle frame: that would shuffle every shingle row on doc_id.
    kept = (
        sh.groupBy(*BLOCK_COLS, "shingle")
        .agg(F.array_sort(F.collect_list("doc_id")).alias("ids"))
        .filter(F.size("ids") <= max_doc_freq)
    )
    # Measured (r6): materializing `kept` via localCheckpoint HURTS here
    # (2.6 → 4.1 s at sf0.1) — unlike the SRP index (14 references),
    # `kept` has only two consumers and the blocking materialization
    # costs more than the one recompute it saves. Left lazy on purpose.
    sizes = (
        kept.select(F.explode("ids").alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_shingles"))
    )
    # kept buckets are within max_doc_freq, so the keeper star never fires.
    inter = (
        bucket_pairs(kept, max_doc_freq)
        .groupBy(F.col("a").alias("doc_a"), F.col("b").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    # No broadcast hint: sizes has one row per corpus document, far too
    # big to broadcast at scale — let Catalyst/AQE pick the strategy.
    return inter.join(
        sizes.withColumnsRenamed({"doc_id": "doc_a", "n_shingles": "size_a"}),
        on="doc_a",
    ).join(
        sizes.withColumnsRenamed({"doc_id": "doc_b", "n_shingles": "size_b"}),
        on="doc_b",
    )


def ngram_containment_pairs(
    docs: DataFrame, threshold: float = 0.5
) -> DataFrame:
    """ASYMMETRIC set overlap (containment / Broder's "resemblance vs
    containment" distinction): containment_a = |A∩B| / |A| — how much of
    document A lives inside B. Catches what symmetric Jaccard
    structurally cannot: a short document quoted wholesale inside a
    long one scores Jaccard ≈ |A|/|B| (tiny) but containment_a ≈ 1.
    Pairs survive when EITHER direction's containment ≥ ``threshold``;
    both directions are reported so the caller can tell subset from
    superset. Same blocking, df-capping, and combination-list plan as
    :func:`ngram_jaccard_pairs` (shared core), so the scale bounds are
    identical."""
    with_sizes = block_pair_intersections(docs, 64)
    return containment_from_intersections(with_sizes, threshold)


def containment_from_intersections(
    with_sizes: DataFrame, threshold: float = 0.5
) -> DataFrame:
    """Containment scoring over a block_pair_intersections frame (see
    :func:`jaccard_from_intersections` for why this is split out)."""
    c_a = F.round(F.col("n_common") / F.col("size_a"), 6)
    c_b = F.round(F.col("n_common") / F.col("size_b"), 6)
    return (
        with_sizes.withColumn("containment_a", c_a)
        .withColumn("containment_b", c_b)
        .filter(
            (F.col("containment_a") >= threshold)
            | (F.col("containment_b") >= threshold)
        )
        .select(
            "doc_a", "doc_b", "n_common", "containment_a", "containment_b"
        )
    )


def ngram_containment_sql() -> str:
    """DuckDB twin of :func:`ngram_containment_pairs`."""
    blocks = ", ".join(BLOCK_COLS)
    join_on = " AND ".join(f"a.{c} = b.{c}" for c in BLOCK_COLS)
    return f"""
WITH allsh AS (
  SELECT DISTINCT doc_id, {blocks}, shingle FROM (
    SELECT doc_id, {blocks}, unnest({shingles_sql('text')}) AS shingle
    FROM documents
  )
), sh AS (
  SELECT doc_id, {blocks}, shingle FROM (
    SELECT *, COUNT(*) OVER (PARTITION BY {blocks}, shingle) AS df FROM allsh
  ) WHERE df <= 64
), sizes AS (
  SELECT doc_id, COUNT(*) AS n_shingles FROM sh GROUP BY doc_id
), inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
  FROM sh a JOIN sh b ON {join_on} AND a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b, n_common,
       ROUND(CAST(n_common AS DOUBLE) / sa.n_shingles, 6) AS containment_a,
       ROUND(CAST(n_common AS DOUBLE) / sb.n_shingles, 6) AS containment_b
FROM inter
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE ROUND(CAST(n_common AS DOUBLE) / sa.n_shingles, 6) >= 0.5
   OR ROUND(CAST(n_common AS DOUBLE) / sb.n_shingles, 6) >= 0.5
"""


def jaccard_verify_pairs(
    docs: DataFrame, candidates: DataFrame, threshold: float = 0.1
) -> DataFrame:
    """Exact Jaccard for an explicit (doc_a, doc_b) candidate frame — the
    verify stage fed by :func:`lsh_candidate_pairs`.

    Shingle sets are built only for documents appearing in a candidate
    pair (the join prunes the corpus scan), then each pair's sets meet
    via two hash joins on doc id and an ``array_intersect`` — no
    combination explode, cost linear in |candidates| + |candidate docs|.
    """
    cand_docs = (
        candidates.select(F.col("doc_a").alias("doc_id"))
        .unionByName(candidates.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    sets_ = docs.join(cand_docs, on="doc_id").select(
        "doc_id", F.array_distinct(shingles(F.col("text"))).alias("sh")
    )
    joined = candidates.join(
        sets_.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a")),
        on="doc_a",
    ).join(
        sets_.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b")),
        on="doc_b",
    )
    n_common = F.size(F.array_intersect("sh_a", "sh_b"))
    union_size = F.size("sh_a") + F.size("sh_b") - n_common
    return (
        joined.select(
            "doc_a",
            "doc_b",
            n_common.alias("n_common"),
            F.round(F.try_divide(n_common, union_size), 6).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def ngram_jaccard_sql() -> str:
    blocks = ", ".join(BLOCK_COLS)
    join_on = " AND ".join(f"a.{c} = b.{c}" for c in BLOCK_COLS)
    return f"""
WITH allsh AS (
  SELECT DISTINCT doc_id, {blocks}, shingle FROM (
    SELECT doc_id, {blocks}, unnest({shingles_sql('text')}) AS shingle
    FROM documents
  )
), sh AS (
  SELECT doc_id, {blocks}, shingle FROM (
    SELECT *, COUNT(*) OVER (PARTITION BY {blocks}, shingle) AS df FROM allsh
  ) WHERE df <= 64
), sizes AS (
  SELECT doc_id, COUNT(*) AS n_shingles FROM sh GROUP BY doc_id
), inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
  FROM sh a JOIN sh b ON {join_on} AND a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b, n_common,
       ROUND(CAST(n_common AS DOUBLE) / (sa.n_shingles + sb.n_shingles - n_common), 6) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE ROUND(CAST(n_common AS DOUBLE) / (sa.n_shingles + sb.n_shingles - n_common), 6) >= 0.1
"""


def contrastive_triplets(docs: DataFrame, candidates: DataFrame) -> DataFrame:
    """Contrastive training-pair mining over the LSH candidate graph:
    (anchor, positive, hard-negative) triplets for embedding-model
    training (the SimCSE/E5-style data-prep step a retrieval stack
    needs). Positives are candidate pairs whose EXACT Jaccard ≥ 0.5
    (true near-dups); hard negatives are candidate pairs with Jaccard
    ≤ 0.1 — "hard" precisely because LSH already found them
    collision-close, the negatives a random sampler never surfaces.
    Each anchor contributes up to 3 triplets: its i-th
    best positive paired with the corpus's i-th hardest negative PAIR
    (the in-batch-negative convention — near-dup clusters and index
    collisions are usually disjoint doc sets, so anchor-local hard
    negatives rarely exist; the negative row carries its own doc pair).
    All rankings order by Jaccard with doc-id tiebreaks — fully
    deterministic.

    Scale shape: reuses jaccard_verify_pairs' linear verify plan
    (shingle sets built only for candidate docs, two hash joins, no
    combination explode); direction fan-out is an explode; per-anchor
    ranking is one window over the candidate-bounded pair set. Cost is
    O(|candidates|), never corpus-pairs.

    Engine-exactness: Jaccard rounded to 6 (as everywhere), ranks are
    integer windows over rounded scores, the positive/negative join is
    an integer equi-join — hash-stable against the DuckDB twin.
    """
    cand_docs = (
        candidates.select(F.col("doc_a").alias("doc_id"))
        .unionByName(candidates.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    sets_ = docs.join(cand_docs, on="doc_id").select(
        "doc_id", F.array_distinct(shingles(F.col("text"))).alias("sh")
    )
    joined = candidates.join(
        sets_.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a")),
        on="doc_a",
    ).join(
        sets_.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b")),
        on="doc_b",
    )
    n_common = F.size(F.array_intersect("sh_a", "sh_b"))
    union_size = F.size("sh_a") + F.size("sh_b") - n_common
    scored = joined.select(
        "doc_a",
        "doc_b",
        F.round(F.try_divide(n_common, union_size), 6).alias("jaccard"),
    )
    directed = scored.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("doc_a").alias("anchor_id"),
                    F.col("doc_b").alias("other_id"),
                    F.col("jaccard"),
                ),
                F.struct(
                    F.col("doc_b").alias("anchor_id"),
                    F.col("doc_a").alias("other_id"),
                    F.col("jaccard"),
                ),
            )
        ).alias("d")
    ).select("d.anchor_id", "d.other_id", "d.jaccard")
    w = Window.partitionBy("anchor_id").orderBy(
        F.col("jaccard").desc(), F.col("other_id").asc()
    )
    pos = (
        directed.filter(F.col("jaccard") >= 0.5)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select(
            "anchor_id",
            "rank",
            F.col("other_id").alias("positive_id"),
            F.col("jaccard").alias("pos_jaccard"),
        )
    )
    # Global hardest collisions: orderBy().limit() compiles to
    # TakeOrderedAndProject (per-partition top-k + driver merge of
    # 3 rows), so the global sort is distributed; only the residual
    # row_number window runs single-partition — over at most 3 rows. A
    # bare Window.orderBy here would instead sort the WHOLE <= 0.1 pair
    # set in one task, which on a degenerate
    # corpus (LSH star pairing mostly-dissimilar docs) is nearly the
    # entire candidate set. The ordering is a deterministic total
    # order (doc-id tiebreaks), so the pre-cut keeps results identical.
    w_global = Window.orderBy(
        F.col("jaccard").desc(), F.col("doc_a").asc(), F.col("doc_b").asc()
    )
    neg = (
        scored.filter(F.col("jaccard") <= 0.1)
        .orderBy(
            F.col("jaccard").desc(), F.col("doc_a").asc(), F.col("doc_b").asc()
        )
        .limit(3)
        .withColumn("rank", F.row_number().over(w_global))
        .select(
            "rank",
            F.col("doc_a").alias("neg_a"),
            F.col("doc_b").alias("neg_b"),
            F.col("jaccard").alias("neg_jaccard"),
        )
    )
    return pos.join(neg, on="rank").select(
        "anchor_id",
        F.col("rank").cast("long").alias("rank"),
        "positive_id",
        "pos_jaccard",
        "neg_a",
        "neg_b",
        "neg_jaccard",
    )


def contrastive_triplets_sql(pairs_sql: str) -> str:
    """DuckDB twin of :func:`contrastive_triplets` over the same
    candidate-pair query."""
    return f"""
WITH cand AS ({pairs_sql}
), cand_docs AS (
  SELECT doc_a AS doc_id FROM cand UNION SELECT doc_b FROM cand
), sh AS (
  SELECT DISTINCT doc_id, shingle FROM (
    SELECT doc_id, unnest({shingles_sql('text')}) AS shingle
    FROM documents WHERE doc_id IN (SELECT doc_id FROM cand_docs)
  )
), sizes AS (
  SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id
), inter AS (
  SELECT c.doc_a, c.doc_b, COUNT(*) AS n_common
  FROM cand c
  JOIN sh a ON a.doc_id = c.doc_a
  JOIN sh b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
  GROUP BY 1, 2
), scored AS (
  -- LEFT JOINs: a candidate pair with zero common shingles is the
  -- hardest negative of all and must not vanish — and a doc with an
  -- EMPTY shingle set has no rows in sh/sizes at all, so an inner
  -- sizes join would drop its pairs while Spark keeps them (empty
  -- array, jaccard 0 via try_divide). COALESCE(n, 0) restores the
  -- empty-set size; both-empty pairs get NULL jaccard on both
  -- engines (0/0) and fall out of the hi/lo filters identically.
  SELECT c.doc_a, c.doc_b,
         ROUND(CAST(COALESCE(i.n_common, 0) AS DOUBLE)
               / NULLIF(COALESCE(sa.n, 0) + COALESCE(sb.n, 0)
                        - COALESCE(i.n_common, 0), 0), 6)
           AS jaccard
  FROM cand c
  LEFT JOIN inter i ON i.doc_a = c.doc_a AND i.doc_b = c.doc_b
  LEFT JOIN sizes sa ON sa.doc_id = c.doc_a
  LEFT JOIN sizes sb ON sb.doc_id = c.doc_b
), directed AS (
  SELECT doc_a AS anchor_id, doc_b AS other_id, jaccard FROM scored
  UNION ALL
  SELECT doc_b, doc_a, jaccard FROM scored
), pos AS (
  SELECT anchor_id, rank, other_id AS positive_id, jaccard AS pos_jaccard
  FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY anchor_id
        ORDER BY jaccard DESC, other_id ASC) AS rank
    FROM directed WHERE jaccard >= 0.5
  ) WHERE rank <= 3
), neg AS (
  SELECT rank, doc_a AS neg_a, doc_b AS neg_b, jaccard AS neg_jaccard
  FROM (
    SELECT *, ROW_NUMBER() OVER (
        ORDER BY jaccard DESC, doc_a ASC, doc_b ASC) AS rank
    FROM scored WHERE jaccard <= 0.1
  ) WHERE rank <= 3
)
SELECT anchor_id, CAST(rank AS BIGINT) AS rank,
       positive_id, pos_jaccard, neg_a, neg_b, neg_jaccard
FROM pos JOIN neg USING (rank)
"""


# Byte == character semantics for levenshtein on both engines holds
# exactly on this alphabet (see edit_distance_verify docstring).
ASCII_RE = "^[\\x00-\\x7F]*$"


def edit_distance_verify(
    docs: DataFrame,
    candidates: DataFrame,
    max_norm: float = 0.25,
    ascii_only: bool = False,
) -> DataFrame:
    """Character-level near-dup verification: normalized Levenshtein
    distance over an explicit (doc_a, doc_b) candidate frame — the
    complement to :func:`jaccard_verify_pairs` (token-set overlap misses
    dense single-character edits: OCR noise, mojibake, template
    fill-ins; edit distance catches them).

    Levenshtein is O(n·m) per pair, so two structural bounds keep the
    verify linear in |candidates|:

    - texts are compared on a 200-char prefix (near-dups
      diverge early or not at all — the standard production shortcut);
    - Spark's bounded DP (``levenshtein(l, r, threshold)``, O(t·n))
      abandons any pair whose distance exceeds the worst distance that
      could still pass the ``max_norm`` filter, returning -1. A pair
      that passes always has an exact distance: dist ≤ max_norm·glen ≤
      threshold, so the early-out never clips a surviving row.

    Output: (doc_a, doc_b, edit_dist, norm_edit) with
    norm_edit = dist / max(len_a, len_b) rounded to 6, filtered to
    ``<= max_norm``. Cost shape at 100 TB: two equi-joins on doc id
    (prefix projection prunes the corpus scan) + a per-row bounded DP.

    ``ascii_only`` keeps only pairs whose both prefixes are pure ASCII
    — the oracle scope: Spark's levenshtein counts CHARACTER edits,
    DuckDB's counts BYTE edits, and the two agree exactly iff the
    inputs are ASCII. The operator itself is correct on any unicode
    text (character semantics; unit-tested against a pure-Python DP);
    only the cross-engine parity check needs the restriction.
    """
    threshold = int(max_norm * 200) + 1
    prefixes = docs.select(
        "doc_id", F.substring(F.col("text"), 1, 200).alias("txt")
    )
    joined = candidates.join(
        prefixes.select(F.col("doc_id").alias("doc_a"), F.col("txt").alias("txt_a")),
        on="doc_a",
    ).join(
        prefixes.select(F.col("doc_id").alias("doc_b"), F.col("txt").alias("txt_b")),
        on="doc_b",
    )
    if ascii_only:
        joined = joined.filter(
            F.col("txt_a").rlike(ASCII_RE) & F.col("txt_b").rlike(ASCII_RE)
        )
    glen = F.greatest(F.length("txt_a"), F.length("txt_b"))
    dist = F.levenshtein(F.col("txt_a"), F.col("txt_b"), threshold)
    scored = joined.select(
        "doc_a",
        "doc_b",
        dist.alias("edit_dist"),
        F.round(F.try_divide(dist, glen), 6).alias("norm_edit"),
    )
    return scored.filter(
        (F.col("edit_dist") >= 0) & (F.col("norm_edit") <= max_norm)
    )


def edit_distance_sql() -> str:
    """DuckDB twin of the ``ascii_only=True`` verify: unbounded
    ``levenshtein`` (DuckDB has no threshold arg — the bound only
    changes cost, never the surviving rows) over the same LSH candidate
    pairs, restricted to ASCII prefixes where DuckDB's byte-edit count
    equals Spark's character-edit count."""
    return f"""
WITH cand AS ({minhash_lsh_sql()}),
prefixes AS (
  SELECT doc_id, substr(text, 1, 200) AS txt FROM documents
), scored AS (
  SELECT c.doc_a, c.doc_b,
         levenshtein(a.txt, b.txt) AS edit_dist,
         ROUND(CAST(levenshtein(a.txt, b.txt) AS DOUBLE)
               / GREATEST(length(a.txt), length(b.txt)), 6) AS norm_edit
  FROM cand c
  JOIN prefixes a ON a.doc_id = c.doc_a
  JOIN prefixes b ON b.doc_id = c.doc_b
  WHERE regexp_matches(a.txt, '{ASCII_RE}')
    AND regexp_matches(b.txt, '{ASCII_RE}')
)
SELECT doc_a, doc_b, edit_dist, norm_edit
FROM scored WHERE norm_edit <= 0.25
"""


# ---------------------------------------------------------------------------
# Incremental LSH dedup (new batch vs existing corpus index)
# ---------------------------------------------------------------------------


def lsh_incremental_pairs(
    old_docs: DataFrame,
    new_docs: DataFrame,
    text_col: str = "text",
    bucket_cap: int = LSH_BUCKET_CAP,
) -> DataFrame:
    """Candidate near-dup pairs INVOLVING AT LEAST ONE NEW DOCUMENT —
    the production dedup shape at 100 TB: the corpus index (band
    buckets) already exists; an arriving batch is shingled, bucketed,
    and joined against it, and old-vs-old pairs are never re-emitted.

    Here both sides are computed from their doc frames (a registry
    query cannot persist state between calls); in production
    ``old_docs``'s band-bucket frame is a stored table bucketed by
    (band, bucket) — everything from the union down is identical, and
    the per-batch cost is O(|new batch|) shingling plus the bucket
    join.

    Capped like :func:`lsh_candidate_pairs`: oversized buckets emit a
    keeper star to each NEW member instead of the full clique —
    connectivity of every new document to the bucket's component is
    preserved with linear output.
    """
    b_old = lsh_band_buckets(minhash_signature(old_docs, text_col)).withColumn(
        "is_new", F.lit(False)
    )
    b_new = lsh_band_buckets(minhash_signature(new_docs, text_col)).withColumn(
        "is_new", F.lit(True)
    )
    grouped = (
        b_old.unionByName(b_new)
        .groupBy("band", "bucket")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("doc_id", "is_new"))
            ).alias("ids")
        )
        .filter(F.exists("ids", lambda x: x["is_new"]))
    )
    return (
        bucket_pairs(grouped, bucket_cap)
        .filter(F.col("a.is_new") | F.col("b.is_new"))
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        # Guard against a doc_id present in BOTH sides (a re-delivered
        # batch): its bucket entry appears once per side and the pair
        # builder would emit a new self-pair — drop those rather
        # than require callers to guarantee id-disjointness.
        .filter(F.col("doc_a") != F.col("doc_b"))
        .distinct()
    )


def lsh_incremental_sql(new_pred_sql: str) -> str:
    """DuckDB twin of :func:`lsh_incremental_pairs`: full-corpus band
    buckets, pairs where either side satisfies ``new_pred_sql`` (a
    boolean SQL expression over ``documents`` columns), with the same
    ``LSH_BUCKET_CAP`` keeper star as :func:`minhash_lsh_sql`."""
    return f"""
WITH {_lsh_bucketed_sql()}, flags AS (
  SELECT doc_id, ({new_pred_sql}) AS is_new FROM documents
)
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
FROM bucketed a
JOIN bucketed b ON a.band = b.band AND a.bucket = b.bucket
               AND a.doc_id < b.doc_id
JOIN flags fa ON fa.doc_id = a.doc_id
JOIN flags fb ON fb.doc_id = b.doc_id
WHERE (fa.is_new OR fb.is_new)
  AND (a.bsz <= {LSH_BUCKET_CAP} OR a.doc_id = a.keeper)
"""
