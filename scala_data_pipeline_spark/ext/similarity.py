"""Similarity search over embedding columns (``array<float>``).

Two tiers, mirroring how ANN serving works at scale:

- **brute-force cosine top-k** — the correctness baseline. A broadcast
  of the (small) query set against the full corpus: the corpus NEVER
  shuffles; each partition scores its rows against the broadcast queries
  and a TakeOrderedAndProject (window rank) keeps k per query. At 100 TB
  of embeddings this is one corpus scan per query batch — the right
  plan when the query set is small.
- **IVF-style bucketed search** — the scale path: a coarse quantizer
  (here the precomputed ``label`` column stands in for the nearest-
  centroid assignment) restricts scoring to same-bucket rows. The join
  is bucket-equi, so the shuffle is bounded by bucket sizes instead of
  the full cross product. A real deployment k-means-fits centroids
  (pyspark.ml KMeans) and probes the nearest ``nprobe`` buckets.

Float parity: all dot products / norms accumulate per-term values
rounded to 8 decimals, summed left-to-right identically in Spark
(``aggregate``/``zip_with`` higher-order functions — JVM-side, no UDF)
and DuckDB (``list_sum``/``list_transform``/``list_zip``) — verified
bit-identical. Final cosine rounded to 6.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .dedup import bucket_pairs
from .util import fan_out


# -- All cosine paths share the prepped form: round elements and compute
# norms ONCE PER ROW (a naive cosine(a, b) that re-derives both norms
# inside every pair costs 3 dot products where 1 suffices — measured 3-4×
# slower; removed in favor of prep_vectors + cosine_prepped everywhere).
# so the per-pair work is one multiply-sum. Parity holds because both
# engines run identical IEEE double ops in identical (left-to-right)
# order over identically pre-rounded inputs.


def prep_vectors(df: DataFrame, emb_col: str = "embedding") -> DataFrame:
    rounded = F.transform(F.col(emb_col), lambda x: F.round(x.cast("double"), 8))
    return df.withColumn("emb_r", rounded).withColumn(
        "emb_norm",
        F.sqrt(
            F.aggregate(
                F.transform(rounded, lambda x: x * x), F.lit(0.0), lambda a, x: a + x
            )
        ),
    )


def cosine_prepped(a_emb: Column, a_norm: Column, b_emb: Column, b_norm: Column) -> Column:
    dot = F.aggregate(
        F.zip_with(a_emb, b_emb, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )
    return F.round(F.try_divide(dot, a_norm * b_norm), 6)


PREP_SQL = (
    "list_transform({col}, x -> ROUND(CAST(x AS DOUBLE), 8))"
)
NORM_SQL = (
    "sqrt(list_sum(list_transform({r}, x -> x * x)))"
)
DOT_PREPPED_SQL = (
    "list_sum(list_transform(list_zip({a}, {b}), x -> x[1] * x[2]))"
)


def topk_bruteforce(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
) -> DataFrame:
    """Top-k cosine neighbors per query vector; query set broadcast so
    the corpus scan is shuffle-free until the final per-query rank.

    Uses the prepped fast path: element rounding and norms are computed
    once per ROW (corpus and query side), so the O(corpus × queries)
    inner loop is a single multiply-sum — measured 3-4× over the naive
    cosine() that re-derives both norms per PAIR."""
    c = prep_vectors(fan_out(corpus))
    q = prep_vectors(queries).select(
        F.col("vec_id").alias("query_id"),
        F.col("emb_r").alias("q_emb"),
        F.col("emb_norm").alias("q_norm"),
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "vec_id",
            cosine_prepped(
                F.col("q_emb"), F.col("q_norm"), F.col("emb_r"), F.col("emb_norm")
            ).alias("cos"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("vec_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "vec_id", "cos")
    )


def _prepped_cte() -> str:
    prep = PREP_SQL.format(col="embedding")
    norm = NORM_SQL.format(r="emb_r")
    return f"""
  SELECT vec_id, label, emb_r, {norm} AS emb_norm
  FROM (SELECT vec_id, label, {prep} AS emb_r FROM embeddings)
"""


def topk_bruteforce_sql(k: int = 5, n_queries: int = 5) -> str:
    dot = DOT_PREPPED_SQL.format(a="q.q_emb", b="e.emb_r")
    return f"""
WITH prepped AS ({_prepped_cte()}),
q AS (
  SELECT vec_id AS query_id, emb_r AS q_emb, emb_norm AS q_norm
  FROM prepped WHERE vec_id < {n_queries}
), scored AS (
  SELECT q.query_id, e.vec_id,
         ROUND({dot} / NULLIF(q.q_norm * e.emb_norm, 0), 6) AS cos
  FROM prepped e CROSS JOIN q
  WHERE e.vec_id <> q.query_id
), ranked AS (
  SELECT query_id, vec_id, cos,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id ASC) AS rank
  FROM scored
)
SELECT query_id, rank, vec_id, cos FROM ranked WHERE rank <= {k}
"""


def topk_ivf(corpus: DataFrame, queries: DataFrame, k: int = 3) -> DataFrame:
    """IVF-style: score only within the query's coarse bucket (prepped
    fast path — norms amortized per row, see topk_bruteforce)."""
    c = prep_vectors(fan_out(corpus))
    q = prep_vectors(queries).select(
        F.col("vec_id").alias("query_id"),
        F.col("emb_r").alias("q_emb"),
        F.col("emb_norm").alias("q_norm"),
        F.col("label").alias("bucket"),
    )
    scored = (
        c.withColumnRenamed("label", "bucket")
        .join(F.broadcast(q), on="bucket")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "vec_id",
            cosine_prepped(
                F.col("q_emb"), F.col("q_norm"), F.col("emb_r"), F.col("emb_norm")
            ).alias("cos"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("vec_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "vec_id", "cos")
    )


def topk_ivf_sql(k: int = 3, n_queries: int = 5) -> str:
    dot = DOT_PREPPED_SQL.format(a="q.q_emb", b="e.emb_r")
    return f"""
WITH prepped AS ({_prepped_cte()}),
q AS (
  SELECT vec_id AS query_id, emb_r AS q_emb, emb_norm AS q_norm,
         label AS bucket
  FROM prepped WHERE vec_id < {n_queries}
), scored AS (
  SELECT q.query_id, e.vec_id,
         ROUND({dot} / NULLIF(q.q_norm * e.emb_norm, 0), 6) AS cos
  FROM prepped e JOIN q ON e.label = q.bucket
  WHERE e.vec_id <> q.query_id
), ranked AS (
  SELECT query_id, vec_id, cos,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id ASC) AS rank
  FROM scored
)
SELECT query_id, rank, vec_id, cos FROM ranked WHERE rank <= {k}
"""


def quantize_embeddings(corpus: DataFrame) -> DataFrame:
    """Scalar int8 quantization: per-DIMENSION min/max over the corpus,
    then q[i] = floor((x[i]-min[i])/(max[i]-min[i]) * 255 + 0.5) - 128
    (floor, not round — round's tie behavior differs across engines).
    4× memory and ~4× scan bandwidth for ANN at the cost of ~0.4% range
    error per dim.

    Fit is one explode + 64-group aggregation (map-side partials shrink
    the shuffle to 64 rows per task); the stats pack into two arrays on
    a single broadcast row, so quantization itself is a per-row
    transform — no second shuffle, corpus never moves."""
    rounded = F.transform(F.col("embedding"), lambda x: F.round(x.cast("double"), 8))
    per_dim = (
        fan_out(corpus)
        .select(F.posexplode(rounded).alias("pos", "v"))
        .groupBy("pos")
        .agg(F.min("v").alias("lo"), F.max("v").alias("hi"))
    )
    stats = per_dim.agg(
        F.array_sort(
            F.collect_list(F.struct("pos", "lo"))
        ).alias("lo_s"),
        F.array_sort(
            F.collect_list(F.struct("pos", "hi"))
        ).alias("hi_s"),
    ).select(
        F.transform("lo_s", lambda s: s["lo"]).alias("lo_arr"),
        F.transform("hi_s", lambda s: s["hi"]).alias("hi_arr"),
    )
    # greatest(range, 1e-12): a dimension that is constant across the
    # corpus has hi == lo, and a raw zero divisor throws DIVIDE_BY_ZERO
    # under Spark 4's default ANSI mode; clamping maps every constant
    # dim to the fixed code floor(0.5)-128 = -128 (x == lo there).
    q = F.transform(
        rounded,
        lambda x, i: (
            F.floor(
                (x - F.element_at(F.col("lo_arr"), i + 1))
                / F.greatest(
                    F.element_at(F.col("hi_arr"), i + 1)
                    - F.element_at(F.col("lo_arr"), i + 1),
                    F.lit(1e-12),
                )
                * 255
                + 0.5
            )
            - 128
        ).cast("int"),
    )
    return (
        corpus.crossJoin(F.broadcast(stats))
        .select("vec_id", q.alias("qvec"))
    )


def quantize_embeddings_sql(serialize: bool = True) -> str:
    """DuckDB twin. ``serialize=True`` emits the vector as a CSV string
    for hash-stable comparison (match with array_join on the Spark
    side); ``serialize=False`` keeps the INT list for downstream SQL."""
    qlist = (
        "list_transform(range(1, 64 + 1), "
        "i -> CAST(floor((emb[i] - lo_arr[i]) / greatest(hi_arr[i] - lo_arr[i], 1e-12)"
        " * 255 + 0.5) - 128 AS INT))"
    )
    qcol = f"array_to_string({qlist}, ',')" if serialize else qlist
    return f"""
WITH rounded AS (
  SELECT vec_id,
         list_transform(embedding, x -> ROUND(CAST(x AS DOUBLE), 8)) AS emb
  FROM embeddings
), per_dim AS (
  SELECT pos, MIN(v) AS lo, MAX(v) AS hi
  FROM (SELECT unnest(emb) AS v,
               generate_subscripts(emb, 1) AS pos
        FROM rounded)
  GROUP BY pos
), stats AS (
  SELECT list(lo ORDER BY pos) AS lo_arr, list(hi ORDER BY pos) AS hi_arr
  FROM per_dim
)
SELECT vec_id, {qcol} AS qvec
FROM rounded, stats
"""


def topk_quantized(
    corpus: DataFrame, n_queries: int = 5, k: int = 5
) -> DataFrame:
    """ANN top-k in int8 space: quantize once, then rank by integer dot
    product (exact int64 arithmetic — no float-parity concerns at all).
    The production pattern: scan the 4×-smaller quantized corpus for
    candidates, refine the shortlist with float cosine (refinement
    omitted here; see topk_bruteforce for the float path)."""
    q = quantize_embeddings(corpus)
    queries = q.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"), F.col("qvec").alias("q_qvec")
    )
    idot = F.aggregate(
        F.zip_with(
            F.col("q_qvec"),
            F.col("qvec"),
            lambda x, y: x.cast("long") * y.cast("long"),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    scored = (
        q.crossJoin(F.broadcast(queries))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id", idot.alias("iscore"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("iscore").desc(), F.col("vec_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "vec_id", "iscore")
    )


def topk_quantized_sql(n_queries: int = 5, k: int = 5) -> str:
    quant_list = quantize_embeddings_sql(serialize=False)
    return f"""
WITH quant AS ({quant_list}),
q AS (
  SELECT vec_id AS query_id, qvec AS q_qvec FROM quant
  WHERE vec_id < {n_queries}
), scored AS (
  SELECT q.query_id, e.vec_id,
         CAST(list_sum(list_transform(range(1, 64 + 1),
              i -> CAST(q.q_qvec[i] AS BIGINT) * e.qvec[i])) AS BIGINT)
           AS iscore
  FROM quant e CROSS JOIN q
  WHERE e.vec_id <> q.query_id
), ranked AS (
  SELECT query_id, vec_id, iscore,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY iscore DESC, vec_id ASC) AS rank
  FROM scored
)
SELECT query_id, CAST(rank AS BIGINT) AS rank, vec_id, iscore
FROM ranked WHERE rank <= {k}
"""


def embedding_neardup_pairs(
    corpus: DataFrame, prepped: DataFrame | None = None
) -> DataFrame:
    """Embedding-cosine near-dup pairs within coarse buckets — the
    embedding twin of MinHash candidate generation (dedup.py). Uses the
    prepped fast path: element rounding + norms amortized per ROW, so
    the O(pairs) inner loop is a single multiply-sum.

    ``prepped`` lets a caller that already materialized the
    prep_vectors frame (e.g. semantic_dedup_keepers, which also needs
    the norms) share it across the self-join's two sides instead of
    re-evaluating the prep pipeline per reference (r19). It MUST be
    ``prep_vectors(corpus)`` (any fan-out/repartition is fine) — a
    frame from a different corpus silently yields wrong pairs, so the
    expected columns are asserted here (r19 advisor)."""
    if prepped is None:
        prepped = prep_vectors(fan_out(corpus))
    else:
        missing = {"label", "vec_id", "emb_r", "emb_norm"} - set(
            prepped.columns
        )
        if missing:
            raise ValueError(
                "embedding_neardup_pairs: prepped frame lacks columns "
                f"{sorted(missing)} — pass prep_vectors(corpus) built "
                "from the same corpus"
            )
    a = prepped.select(
        F.col("label").alias("bucket"),
        F.col("vec_id").alias("vec_a"),
        F.col("emb_r").alias("emb_ra"),
        F.col("emb_norm").alias("norm_a"),
    )
    b = prepped.select(
        F.col("label").alias("bucket"),
        F.col("vec_id").alias("vec_b"),
        F.col("emb_r").alias("emb_rb"),
        F.col("emb_norm").alias("norm_b"),
    )
    return (
        a.join(b, on="bucket")
        .filter(F.col("vec_a") < F.col("vec_b"))
        .select(
            "vec_a",
            "vec_b",
            cosine_prepped(
                F.col("emb_ra"), F.col("norm_a"), F.col("emb_rb"), F.col("norm_b")
            ).alias("cos"),
        )
        .filter(F.col("cos") >= 0.3)
    )


def embedding_neardup_sql() -> str:
    prep = PREP_SQL.format(col="embedding")
    norm = NORM_SQL.format(r="emb_r")
    dot = DOT_PREPPED_SQL.format(a="a.emb_r", b="b.emb_r")
    return f"""
WITH prepped AS (
  SELECT vec_id, label, emb_r, {norm} AS emb_norm
  FROM (SELECT vec_id, label, {prep} AS emb_r FROM embeddings)
), pairs AS (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         ROUND({dot} / NULLIF(a.emb_norm * b.emb_norm, 0), 6) AS cos
  FROM prepped a JOIN prepped b
    ON a.label = b.label AND a.vec_id < b.vec_id
)
SELECT vec_a, vec_b, cos FROM pairs WHERE cos >= 0.3
"""


# ---------------------------------------------------------------------------
# Semantic dedup (SemDeDup-style): near-dup pairs → clusters → keeper
# ---------------------------------------------------------------------------


def semantic_dedup_keepers(corpus: DataFrame) -> DataFrame:
    """The embedding-space dedup loop closed (the SemDeDup recipe,
    Abbas et al. 2023, on DataFrame primitives): cosine near-dup pairs
    within coarse buckets → connected components → ONE keeper per
    semantic cluster. Keeper policy: the member with the largest
    (rounded) embedding norm — a stand-in for "most informative copy" —
    with a deterministic vec_id tiebreak.

    Returns (cluster_id, keeper_id, n_members) for clusters of size ≥ 2
    (singletons keep themselves implicitly, as in dedup_cluster_keepers).

    Scale shape: the pair space is bounded by the coarse buckets
    (bucket-equi join, see :func:`embedding_neardup_pairs`); components
    iterate over the PAIRS (tiny vs the corpus); the final window
    shuffles one row per clustered vector.
    """
    from .components import connected_components

    # One materialized prep frame serves the pair self-join's BOTH
    # sides and the keeper-norm lookup (three references that each
    # re-ran scan + rounding + norm before r19); the corpus-sized
    # checkpoint is the "persist the prepared index" step a production
    # SemDeDup run stores anyway, and storage is GC-released with the
    # frame. LAZY (r20): the eager form ran a construction-time job
    # whose serial materialization the r19 verdict flagged across the
    # checkpoint family; the fresh-session A/B (plans/r20/ab2_*) has
    # lazy at least as fast on every rep (min 1.98 vs 2.25 s eager,
    # no-checkpoint 2.16 s), and a lazy builder runs no jobs until the
    # query itself is acted on.
    prepped = prep_vectors(fan_out(corpus)).localCheckpoint(eager=False)
    pairs = embedding_neardup_pairs(
        corpus, prepped=prepped
    )
    comp = connected_components(
        pairs, a_col="vec_a", b_col="vec_b"
    ).withColumnRenamed("doc_id", "vec_id")
    norms = prepped.select(
        "vec_id", F.round(F.col("emb_norm"), 6).alias("nrm")
    )
    scored = comp.join(norms, on="vec_id")
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("nrm").desc(), F.col("vec_id").asc()
    )
    cnt = Window.partitionBy("cluster_id")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .withColumn("n_members", F.count(F.lit(1)).over(cnt))
        .filter(F.col("rn") == 1)
        .select(
            "cluster_id",
            F.col("vec_id").alias("keeper_id"),
            F.col("n_members").cast("long").alias("n_members"),
        )
    )


def semantic_dedup_keepers_sql() -> str:
    from .components import connected_components_sql

    pairs = (
        "SELECT vec_a AS doc_a, vec_b AS doc_b FROM ("
        + embedding_neardup_sql()
        + ")"
    )
    prep = PREP_SQL.format(col="embedding")
    norm = NORM_SQL.format(r="emb_r")
    return f"""
WITH cc AS ({connected_components_sql(pairs)}),
norms AS (
  SELECT vec_id, ROUND({norm}, 6) AS nrm
  FROM (SELECT vec_id, {prep} AS emb_r FROM embeddings)
), ranked AS (
  SELECT cc.cluster_id, cc.doc_id AS vec_id, n.nrm,
         ROW_NUMBER() OVER (PARTITION BY cc.cluster_id
                            ORDER BY n.nrm DESC, cc.doc_id ASC) AS rn,
         COUNT(*) OVER (PARTITION BY cc.cluster_id) AS n_members
  FROM cc JOIN norms n ON n.vec_id = cc.doc_id
)
SELECT cluster_id, vec_id AS keeper_id, CAST(n_members AS BIGINT) AS n_members
FROM ranked WHERE rn = 1
"""


# ---------------------------------------------------------------------------
# KNN self-join via sign-random-projection LSH (SRP, Charikar 2002)
# ---------------------------------------------------------------------------

import random as _random

KNN_DIM = 64
# 24 planes = 6 bands × 4 bits. On near-uniform vectors (the fixture's
# worst case: true neighbors sit at cosine ≈ 0.3, per-bit collision
# ≈ 0.6) the 6-band union lifts recall@5 from 0.27 (2 bands) to 0.60
# (measured, sf0.01) while candidates stay ≈ 6·n²/2^band_bits under
# bucket uniformity — the classic band/recall dial; clustered real
# embeddings sit far higher. Band count is a parameter, not a constant
# of the design.
KNN_PLANES = 24
KNN_BAND_BITS = 4


def _srp_hyperplanes() -> list[list[int]]:
    """±1 hyperplanes from a FIXED seed — the same literal numbers are
    embedded in the Spark plan and the DuckDB oracle, so bucketing is
    engine-identical by construction (no cross-engine RNG to agree
    on). Rademacher (±1) entries approximate Gaussian SRP for cosine
    while keeping the projection an exact integer-weighted sum."""
    rng = _random.Random(42)
    return [
        [1 if rng.random() < 0.5 else -1 for _ in range(KNN_DIM)]
        for _ in range(KNN_PLANES)
    ]


def _srp_projections_spark(emb: Column, planes: list[list[int]]) -> Column:
    """All ``len(planes)`` hyperplane projections in ONE aggregate pass,
    returned as an ``array<double>``.

    A fold per plane (the r1-r6 shape) built 24 independent
    zip_with+aggregate expressions, and Catalyst spent ~4.4 s just
    analyzing/optimizing that tree for 2000 rows; the transposed form
    (one per-dim literal matrix, one fold whose accumulator is the
    24-vector of running sums) compiles in half the time and is
    bit-identical: per plane the accumulation is still
    ``((0.0 + x_0·s_0) + x_1·s_1) + …`` left-to-right, so the oracle's
    replayed fold matches exactly (verified exceptAll == 0 both ways).
    """
    n_planes = len(planes)
    dim = len(planes[0])
    # transposed: for each dim i, the 24 signs that multiply emb[i].
    # One nested F.lit instead of dim × n_planes individual literal
    # nodes (r19) cut Catalyst's per-call analysis; but PySpark's
    # lit(list) still recurses into ~1,536 per-element py4j lit calls —
    # profiled at 1.3 s of the 3.3 s construction time of
    # sim_knn_recall_eval (r20). One F.expr string hands the whole
    # matrix to the JVM parser in a SINGLE round-trip; each entry is
    # rendered as its shortest round-tripping repr, so the text
    # round-trip is value-identical for any double (constant-folded to
    # the same nested array literal; oracle hash-exact at 3 SFs).
    tsigns = F.expr(
        "array("
        + ",".join(
            "array("
            + ",".join(
                f"{float(planes[p][i])!r}D" for p in range(n_planes)
            )
            + ")"
            for i in range(dim)
        )
        + ")"
    )
    return F.aggregate(
        F.zip_with(emb, tsigns, lambda x, svec: F.transform(svec, lambda s: s * x)),
        F.array_repeat(F.lit(0.0), n_planes),
        lambda acc, prods: F.zip_with(acc, prods, lambda a, p: a + p),
    )


KNN_BUCKET_CAP = 64


def srp_index(corpus: DataFrame) -> DataFrame:
    """The SRP-LSH index frame: (vec_id, emb_r, emb_norm,
    band_0..band_{B-1}), materialized once via localCheckpoint.

    Keyed is referenced by knn_join's bucket aggregation plus its two
    scoring joins, and each reference would otherwise re-run the scan +
    rounding + projection fold. This is the "build the LSH index" step
    a production system would persist anyway; measured 9.3 s → ~2 s on
    the sf0.1 self-join. localCheckpoint storage is GC-released with
    the frame (same idiom as ext/graph.py). The raw projections go
    through the checkpoint and bands are derived AFTER it — the band
    expressions are then trivial codegen over a stored array instead of
    a giant pre-checkpoint tree Catalyst re-analyzes per reference.
    """
    n_bands = KNN_PLANES // KNN_BAND_BITS
    planes = _srp_hyperplanes()
    prepped = prep_vectors(fan_out(corpus))
    projs = _srp_projections_spark(F.col("emb_r"), planes)
    keyed = prepped.select("vec_id", "emb_r", "emb_norm", projs.alias("projs"))
    # LAZY checkpoint (r20): materializes once on the first consumer's
    # action instead of at construction — cold A/B (plans/r20/ab3_*)
    # shows no penalty (3.10 vs 3.23 s min over 4 fresh sessions), and
    # the builder stops running an index-build job before the query is
    # even acted on (r19 advisor: side-effecting builders pin
    # construction-time data and surprise plan dumps).
    keyed = keyed.localCheckpoint(eager=False)

    # Band keys as ONE selectExpr: the Column form built ~6 py4j calls
    # per bit (~144 round-trips per srp_index call, profiled at ~0.5 s
    # of pure construction time on this container); the SQL text is the
    # same left-associated integer sum of CAST(proj >= 0 AS INT) * 2^i
    # terms, handed to the JVM parser in a single round-trip (r20,
    # same lesson as the projection matrix literal above).
    def _bit(p: int) -> str:
        return f"CAST(element_at(projs, {p + 1}) >= 0 AS INT)"

    bands = [
        "("
        + " + ".join(
            _bit(b * KNN_BAND_BITS) if i == 0
            else f"{_bit(b * KNN_BAND_BITS + i)} * {2 ** i}"
            for i in range(KNN_BAND_BITS)
        )
        + f") AS band_{b}"
        for b in range(n_bands)
    ]
    return keyed.selectExpr("vec_id", "emb_r", "emb_norm", *bands)


def srp_memberships(keyed: DataFrame, n_bands: int) -> DataFrame:
    """(vec_id, band, bk) membership rows from an srp_index frame — the
    unpivot knn_join aggregates into buckets."""
    # One selectExpr per step instead of ~5 py4j calls per band (r20
    # construction-cost pass; value-identical named_struct unpivot).
    return keyed.selectExpr(
        "vec_id",
        "explode(array("
        + ",".join(
            f"named_struct('band', {b}, 'bk', band_{b})"
            for b in range(n_bands)
        )
        + ")) AS m",
    ).selectExpr("vec_id", "m.band AS band", "m.bk AS bk")


def knn_join(
    corpus: DataFrame,
    k: int = 5,
    bucket_cap: int = KNN_BUCKET_CAP,
    sample_bound: int | None = None,
) -> DataFrame:
    """Approximate k-nearest-neighbors for EVERY vector (the KNN
    self-join — embedding dedup's core primitive, vs the query-batch
    serving shape of topk_bruteforce/topk_ivf): sign-random-projection
    LSH (Charikar 2002) buckets vectors by the sign pattern of ±1
    hyperplane projections; vectors sharing any ``KNN_BAND_BITS``-bit band
    bucket become candidates; exact cosine ranks each vector's
    candidates and keeps the top ``k``.

    Returns (vec_id, rank, nbr_id, cos) — rank 1..≤k per vector;
    vectors whose every band bucket is a singleton yield no rows
    (approximate-recall semantics, like every banded LSH).

    Scale shape: the hyperplane projection is a per-row JVM fold (no
    shuffle); candidates come from one (band, bucket) aggregation whose
    buckets emit their in-bucket pairs through :func:`bucket_pairs` —
    never all-pairs — and per-vector top-k is one window over the
    candidate pairs. Honest scaling note: expected bucket size is
    n/2^KNN_BAND_BITS, so candidate volume grows as Σ buckets·size² ≈
    6·n²/2^KNN_BAND_BITS — ``KNN_BAND_BITS`` is the dial that must grow
    ≈ log2(n) with the corpus (16-bit bands ⇒ 65k buckets; the same
    reasoning Spark's own MinHashLSH leaves to its
    numHashTables/bucketLength knobs). On
    top of that dial, ``bucket_cap`` is the hard backstop: a bucket
    larger than the cap — N identical/near-identical vectors landing in
    one band bucket — degrades to a keeper STAR (min id paired with
    every other member, N−1 candidate edges) instead of the N²/2
    clique. For KNN this trades recall inside a degenerate bucket
    (non-keeper members see the keeper but not each other) for a
    linear output bound; the ``oversized_buckets`` observe metric makes
    the engagement visible, and SCALE_NOTES.md ("Scale harness")
    records the recall cost on a 100× planted-truth corpus. The oracle
    replays the IDENTICAL seeded hyperplanes AND the identical cap
    (size/keeper window + star predicate), so candidates, cosines and
    ranks all match exactly — recall approximation, cap and all.
    """
    n_bands = KNN_PLANES // KNN_BAND_BITS
    keyed = srp_index(corpus)
    # Candidates via ONE bucket aggregation instead of a self-join per
    # band: explode each vector into its (band, bucket) memberships,
    # collect each bucket's sorted id list, emit the in-bucket pairs.
    # Same candidate SET — pairs (a<b) sharing any band bucket,
    # distinct-ed across bands — but 1 shuffle + explode replaces 6
    # shuffle joins + a 6-way union.
    grouped = (
        srp_memberships(keyed, n_bands)
        .groupBy("band", "bk")
        .agg(F.array_sort(F.collect_list("vec_id")).alias("ids"))
    )
    cands = (
        bucket_pairs(grouped, bucket_cap)
        .select(F.col("a").alias("vec_a"), F.col("b").alias("vec_b"))
        .distinct()
    )
    if sample_bound is not None:
        # Recall-eval shape (r19): the caller will keep only
        # vec_id < sample_bound rows, and a ranked neighbor list for
        # vec_id v derives solely from candidate pairs CONTAINING v —
        # so dropping pairs that touch no sampled id before the cosine
        # joins is provably output-identical for the kept rows, and
        # skips scoring the ~n²/2^KNN_BAND_BITS pairs between unsampled
        # vectors (sf0.1: ~650k pairs scored → ~30k). Bucketing still
        # sees the whole corpus: candidates PER QUERY are unchanged.
        cands = cands.filter(
            (F.col("vec_a") < sample_bound) | (F.col("vec_b") < sample_bound)
        )
    # Broadcast the vector sides: without the hint Spark broadcasts the
    # pair aggregate instead (the checkpointed index has no catalog
    # stats), a hash relation far larger than the vectors.
    va = F.broadcast(keyed.select(
        F.col("vec_id").alias("vec_a"),
        F.col("emb_r").alias("emb_ra"),
        F.col("emb_norm").alias("norm_a"),
    ))
    vb = F.broadcast(keyed.select(
        F.col("vec_id").alias("vec_b"),
        F.col("emb_r").alias("emb_rb"),
        F.col("emb_norm").alias("norm_b"),
    ))
    scored = (
        cands.join(va, on="vec_a")
        .join(vb, on="vec_b")
        .select(
            "vec_a",
            "vec_b",
            cosine_prepped(
                F.col("emb_ra"), F.col("norm_a"),
                F.col("emb_rb"), F.col("norm_b"),
            ).alias("cos"),
        )
    )
    # Both edge directions from ONE pass over the scored pairs: a union
    # of two selects re-references `scored`, and Spark re-executes the
    # whole candidate subtree (bucket agg → pairs → distinct → joins)
    # once per reference — the r6 plan showed the subtree twice and the
    # query paid ~2× its real cost. explode keeps a single plan
    # reference; row set is identical to the union.
    directed = scored.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("vec_a").alias("vec_id"),
                    F.col("vec_b").alias("nbr_id"),
                    F.col("cos"),
                ),
                F.struct(
                    F.col("vec_b").alias("vec_id"),
                    F.col("vec_a").alias("nbr_id"),
                    F.col("cos"),
                ),
            )
        ).alias("d")
    ).select("d.vec_id", "d.nbr_id", "d.cos")
    w = Window.partitionBy("vec_id").orderBy(
        F.col("cos").desc(), F.col("nbr_id").asc()
    )
    return (
        directed.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("vec_id", "rank", "nbr_id", "cos")
    )


def knn_join_sql(k: int = 5) -> str:
    """DuckDB twin of :func:`knn_join` — identical seeded hyperplane
    literals, band packing, candidate generation (including the
    bucket-cap keeper-star degradation, replayed via a per-bucket
    size/min window + star predicate), and cosine/rank arithmetic."""
    n_bands = KNN_PLANES // KNN_BAND_BITS
    planes = _srp_hyperplanes()
    prep = PREP_SQL.format(col="embedding")
    norm = NORM_SQL.format(r="emb_r")
    bit_exprs = []
    for j, plane in enumerate(planes):
        lits = ", ".join(f"{float(s)!r}" for s in plane)
        bit_exprs.append(
            "CAST(list_sum(list_transform(list_zip(emb_r, "
            f"[{lits}]), x -> x[1] * x[2])) >= 0 AS INT) AS bit_{j}"
        )
    band_exprs = ", ".join(
        " + ".join(
            f"bit_{b * KNN_BAND_BITS + i} * {2 ** i}"
            for i in range(KNN_BAND_BITS)
        )
        + f" AS band_{b}"
        for b in range(n_bands)
    )
    member_selects = "\n  UNION ALL\n".join(
        f"  SELECT vec_id, {b} AS band, band_{b} AS bucket FROM keyed"
        for b in range(n_bands)
    )
    dot = DOT_PREPPED_SQL.format(a="va.emb_r", b="vb.emb_r")
    return f"""
WITH prepped AS (
  SELECT vec_id, emb_r, {norm} AS emb_norm
  FROM (SELECT vec_id, {prep} AS emb_r FROM embeddings)
), bits AS (
  SELECT vec_id, emb_r, emb_norm, {", ".join(bit_exprs)} FROM prepped
), keyed AS (
  SELECT *, {band_exprs} FROM bits
), memberships AS (
{member_selects}
), bucketed AS (
  SELECT vec_id, band, bucket,
         COUNT(*) OVER (PARTITION BY band, bucket) AS bsz,
         MIN(vec_id) OVER (PARTITION BY band, bucket) AS keeper
  FROM memberships
), cands AS (
  -- full clique for buckets within the cap, keeper star above it:
  -- a<b plus "a is the bucket min" yields exactly the star edges
  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
  FROM bucketed a
  JOIN bucketed b ON a.band = b.band AND a.bucket = b.bucket
                 AND a.vec_id < b.vec_id
  WHERE a.bsz <= {KNN_BUCKET_CAP} OR a.vec_id = a.keeper
), scored AS (
  SELECT c.vec_a, c.vec_b,
         ROUND({dot} / NULLIF(va.emb_norm * vb.emb_norm, 0), 6) AS cos
  FROM cands c
  JOIN keyed va ON va.vec_id = c.vec_a
  JOIN keyed vb ON vb.vec_id = c.vec_b
), directed AS (
  SELECT vec_a AS vec_id, vec_b AS nbr_id, cos FROM scored
  UNION ALL
  SELECT vec_b, vec_a, cos FROM scored
)
SELECT vec_id, CAST(rank AS BIGINT) AS rank, nbr_id, cos FROM (
  SELECT *, ROW_NUMBER() OVER (
      PARTITION BY vec_id ORDER BY cos DESC, nbr_id ASC) AS rank
  FROM directed
) WHERE rank <= {k}
"""


# ---------------------------------------------------------------------------
# MMR diversified re-rank (Carbonell & Goldstein 1998)
# ---------------------------------------------------------------------------

MMR_LAMBDA = 0.7  # relevance weight; 1 - MMR_LAMBDA weighs redundancy


def mmr_rerank(corpus: DataFrame, queries: DataFrame) -> DataFrame:
    """Maximal Marginal Relevance: re-rank each query's top candidates
    to balance relevance against redundancy — pick argmax of
    ``λ·rel(c) − (1−λ)·max_{s∈selected} sim(c, s)`` (λ = ``MMR_LAMBDA``)
    ten times over each query's 25 nearest candidates.
    The retrieval answer-diversification step (and, in a data pipeline,
    the "don't fill the context window with five copies of the same
    document" guard on top of any ANN front-end).

    Greedy selection is inherently SEQUENTIAL per query, which no
    relational operator expresses — this is the textbook grouped-map
    case, so the implementation is ``applyInPandas`` over query_id
    groups (Arrow-batched, numpy inside; the url_pipeline precedent for
    a deliberate non-JVM operator). Everything AROUND the sequential
    core stays relational: candidate generation is the existing
    topk_bruteforce plan, and the group payload is 25 rows ×
    (dim+2) — bounded per group, shuffled once on query_id.

    Determinism: candidates and their cosines are the (engine-exact)
    topk_bruteforce output; inside a group the argmax tiebreak is
    lowest vec_id; float ops are numpy doubles over identically
    rounded inputs — pytest re-derives the selection with a pure-Python
    reference and asserts exact equality (rows-only at the driver).
    """
    import numpy as np
    import pandas as pd

    cands = topk_bruteforce(corpus, queries, k=25)
    prepped = prep_vectors(fan_out(corpus)).select(
        "vec_id", "emb_r", "emb_norm"
    )
    payload = cands.join(prepped, on="vec_id").select(
        "query_id", "vec_id", F.col("cos").alias("rel"), "emb_r", "emb_norm"
    )

    def _mmr(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("vec_id").reset_index(drop=True)
        embs = np.stack(pdf["emb_r"].to_numpy())
        norms = pdf["emb_norm"].to_numpy()
        # Dimension-ordered accumulation, NOT a BLAS matmul: `embs @
        # embs.T` sums pairwise/SIMD and can differ from the engine's
        # left-to-right fold by an ulp — which flips a 6-decimal
        # rounding boundary. One outer product per dimension keeps
        # every dot's addition order identical to zip_with+aggregate.
        dots = np.zeros((len(pdf), len(pdf)))
        for d in range(embs.shape[1]):
            col = embs[:, d]
            dots += np.outer(col, col)
        sims = np.round(dots / np.outer(norms, norms), 6)
        rel = pdf["rel"].to_numpy()
        n = len(pdf)
        selected: list[int] = []
        out = []
        for rank in range(1, min(10, n) + 1):
            best_i, best_score = -1, -np.inf
            for i in range(n):
                if i in selected:
                    continue
                redundancy = (
                    max(sims[i][j] for j in selected) if selected else 0.0
                )
                score = MMR_LAMBDA * rel[i] - (1 - MMR_LAMBDA) * redundancy
                # strictly-greater keeps the lowest-vec_id winner on
                # ties (rows are vec_id-sorted)
                if score > best_score:
                    best_i, best_score = i, score
            selected.append(best_i)
            out.append(
                (
                    int(pdf["query_id"].iloc[best_i]),
                    rank,
                    int(pdf["vec_id"].iloc[best_i]),
                    round(float(best_score), 6),
                )
            )
        return pd.DataFrame(
            out, columns=["query_id", "rank", "vec_id", "mmr_score"]
        )

    return payload.groupBy("query_id").applyInPandas(
        _mmr,
        schema="query_id long, rank long, vec_id long, mmr_score double",
    )


def knn_recall_eval(corpus: DataFrame) -> DataFrame:
    """ANN quality audit as a query: recall@5 of the SRP-LSH KNN
    self-join against exact brute force, over a deterministic query
    sample (vec_id < 50) — the parameter-tuning measurement
    you run before pointing the index at a 100 TB corpus (the dedup
    twin is ``lsh_quality_metrics``).

    Both sides are deterministic, so the whole evaluation has an exact
    DuckDB twin (composed from the two queries' own SQL). Mean recall
    is integer-hit-count arithmetic — no float-sum order issues.
    """
    queries = corpus.filter(F.col("vec_id") < 50)
    exact = topk_bruteforce(corpus, queries)
    # sample_bound prunes candidate pairs that touch no sampled vec_id
    # BEFORE cosine scoring (output-identical under the filter below —
    # every kept vec_id's pair set is intact; see knn_join).
    approx = knn_join(corpus, sample_bound=50).filter(
        F.col("vec_id") < 50
    )
    hits = (
        exact.alias("e")
        .join(
            approx.alias("a"),
            (F.col("e.query_id") == F.col("a.vec_id"))
            & (F.col("e.vec_id") == F.col("a.nbr_id")),
        )
        .groupBy(F.col("e.query_id").alias("qid"))
        .agg(F.count("*").cast("long").alias("n_hits"))
    )
    per_q = (
        exact.groupBy("query_id")
        .agg(F.count("*").cast("long").alias("n_exact"))
        .join(hits, F.col("query_id") == F.col("qid"), "left")
        .select(
            "query_id",
            "n_exact",
            F.coalesce(F.col("n_hits"), F.lit(0)).alias("n_hits"),
        )
    )
    return per_q.agg(
        F.count("*").cast("long").alias("n_queries"),
        F.round(
            F.sum("n_hits").cast("double") / F.sum("n_exact").cast("double"),
            6,
        ).alias("mean_recall"),
        F.round(
            F.min(F.col("n_hits").cast("double") / F.col("n_exact")), 6
        ).alias("min_recall"),
    )


def knn_recall_eval_sql() -> str:
    """DuckDB twin of :func:`knn_recall_eval`, composed from the exact
    and approximate queries' own SQL twins."""
    bf = topk_bruteforce_sql(n_queries=50)
    knn = knn_join_sql()
    return f"""
WITH exact AS (SELECT * FROM ({bf})),
approx AS (SELECT * FROM ({knn}) WHERE vec_id < 50),
hits AS (
  SELECT e.query_id AS qid, COUNT(*) AS n_hits
  FROM exact e JOIN approx a
    ON e.query_id = a.vec_id AND e.vec_id = a.nbr_id
  GROUP BY e.query_id
), per_q AS (
  SELECT e.query_id, COUNT(*) AS n_exact,
         COALESCE(ANY_VALUE(h.n_hits), 0) AS n_hits
  FROM exact e LEFT JOIN hits h ON h.qid = e.query_id
  GROUP BY e.query_id
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_queries,
       ROUND(CAST(SUM(n_hits) AS DOUBLE) / CAST(SUM(n_exact) AS DOUBLE), 6)
         AS mean_recall,
       ROUND(MIN(CAST(n_hits AS DOUBLE) / n_exact), 6) AS min_recall
FROM per_q
"""


def rrf_fuse(rankings: list[DataFrame]) -> DataFrame:
    """Reciprocal Rank Fusion (Cormack et al., SIGIR 2009) — the
    standard hybrid-retrieval combiner: each input ranking contributes
    ``1/(k + rank)`` per (query, candidate); candidates missing from a
    list contribute nothing; fused score re-ranks per query. k=60 is
    the published default (dampens the head so one list can't dominate).

    Inputs are (query_id, vec_id, rank) frames — here the exact-float
    and int8-quantized ANN rankings, in production e.g. BM25 + dense
    retrieval. Scale: a union + one grouped sum + one per-query window;
    nothing rejoins the corpus. Cross-engine exactness: each fused pair
    sums at most ``len(rankings)`` reciprocals — for the two-list case
    a single commutative double add — then rounds to 6 before the
    rank-off (vec_id tiebreak).
    """
    contribs = None
    for r in rankings:
        c = r.select(
            "query_id",
            "vec_id",
            (F.lit(1.0) / (F.lit(60) + F.col("rank"))).alias("c"),
        )
        contribs = c if contribs is None else contribs.unionByName(c)
    fused = contribs.groupBy("query_id", "vec_id").agg(
        F.round(F.sum("c"), 6).alias("rrf_score")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("rrf_score").desc(), F.col("vec_id").asc()
    )
    return (
        fused.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select("query_id", "rank", "vec_id", "rrf_score")
    )


def rrf_fuse_sql(ranking_sqls: list[str]) -> str:
    """DuckDB twin: same reciprocal contributions over the composed
    ranking CTEs."""
    ctes = ",\n".join(
        f"r{i} AS ({sql})" for i, sql in enumerate(ranking_sqls)
    )
    unions = "\n  UNION ALL\n".join(
        f"SELECT query_id, vec_id, 1.0 / (60 + rank) AS c FROM r{i}"
        for i in range(len(ranking_sqls))
    )
    return f"""
WITH {ctes},
contribs AS (
  {unions}
), fused AS (
  SELECT query_id, vec_id, ROUND(SUM(c), 6) AS rrf_score
  FROM contribs GROUP BY query_id, vec_id
), ranked AS (
  SELECT query_id, vec_id, rrf_score,
         ROW_NUMBER() OVER (
           PARTITION BY query_id
           ORDER BY rrf_score DESC, vec_id ASC) AS rank
  FROM fused
)
SELECT query_id, rank, vec_id, rrf_score FROM ranked WHERE rank <= 5
"""


def semantic_decontaminate(
    corpus: DataFrame,
    bench: DataFrame,
    threshold: float = 0.4,
) -> DataFrame:
    """SEMANTIC decontamination: flag every corpus vector whose cosine
    to ANY benchmark/eval vector is >= ``threshold`` — the
    embedding-space complement of ``curation.decontaminate`` (n-gram
    overlap), catching paraphrased or re-worded eval leakage that
    shares no verbatim n-gram (the published failure mode n-gram
    decontamination misses; cf. the contamination analyses in GPT-3
    Appendix C and subsequent replication studies).

    Returns (vec_id, nearest_bench, max_cos, contaminated) for every
    corpus vector — callers drop ``contaminated`` rows or route them
    to review.

    Scale shape: eval sets are small by definition, so ``bench`` is
    BROADCAST (k rows x dim doubles) and the corpus scan is
    shuffle-free — one map-side max over the k benchmark cosines per
    corpus row, exactly the decontaminate-by-broadcast shape of the
    n-gram form. No pair materialization survives the scan (the
    aggregate folds it).
    """
    c = prep_vectors(fan_out(corpus))
    b = prep_vectors(bench).select(
        F.col("vec_id").alias("bench_id"),
        F.col("emb_r").alias("b_emb"),
        F.col("emb_norm").alias("b_norm"),
    )
    scored = c.crossJoin(F.broadcast(b)).select(
        "vec_id",
        "bench_id",
        cosine_prepped(
            F.col("emb_r"), F.col("emb_norm"), F.col("b_emb"), F.col("b_norm")
        ).alias("cos"),
    )
    w = Window.partitionBy("vec_id").orderBy(
        F.col("cos").desc(), F.col("bench_id").asc()
    )
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(
            "vec_id",
            F.col("bench_id").alias("nearest_bench"),
            F.col("cos").alias("max_cos"),
            (F.col("cos") >= F.lit(threshold)).alias("contaminated"),
        )
    )


def semantic_decontaminate_sql(
    threshold: float = 0.4,
    bench_pred: str = "vec_id < 25",
    corpus_pred: str = "vec_id >= 25",
) -> str:
    """DuckDB twin of :func:`semantic_decontaminate` over an id-split
    of the embeddings table."""
    dot = DOT_PREPPED_SQL.format(a="c.emb_r", b="b.emb_r")
    return f"""
WITH prepped AS ({_prepped_cte()}),
c AS (SELECT * FROM prepped WHERE {corpus_pred}),
b AS (SELECT * FROM prepped WHERE {bench_pred}),
scored AS (
  SELECT c.vec_id, b.vec_id AS bench_id,
         ROUND({dot} / NULLIF(c.emb_norm * b.emb_norm, 0), 6) AS cos
  FROM c CROSS JOIN b
), ranked AS (
  SELECT *, ROW_NUMBER() OVER (
      PARTITION BY vec_id ORDER BY cos DESC, bench_id ASC) AS rn
  FROM scored
)
SELECT vec_id, bench_id AS nearest_bench, cos AS max_cos,
       cos >= {float(threshold)} AS contaminated
FROM ranked WHERE rn = 1
"""
