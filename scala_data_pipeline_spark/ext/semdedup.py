"""SemDeDup: semantic deduplication via embedding-cluster pruning.

Implements the SemDeDup recipe (Abbas, Tirumala, Simig, Ganguli,
Morcos — "SemDeDup: Data-efficient learning at web-scale through
semantic deduplication", 2023): K-means cluster the embedding space,
then WITHIN each cluster greedily drop every example whose cosine
similarity to an already-kept example is >= 1 - eps. Near-duplicate
pairs in different clusters are invisible by design — that is the
published trade (the coarse quantizer bounds the pair space exactly
like the LSH bands bound the MinHash family's).

Keeper policy: the paper found keeping the examples with the LOWEST
cosine similarity to the cluster centroid performs best (they sit
away from the cluster's dense core); rank = (centroid_sim asc,
vec_id asc) — a total order, so the greedy result is a pure function
of (embeddings, k, seed, eps).

Spark shape, built for 100 TB:

1. coarse quantizer: ``ext/ivf.fit_ivf`` (pyspark.ml KMeans, seeded,
   fits on the corpus / a sample) + ``assign_buckets`` — one scan;
2. centroid similarity: map-side expression against the broadcast
   literal centroid array (k x dim doubles — KBs), no shuffle;
3. the greedy pass runs per cluster via ``applyInPandas`` (one Arrow
   batch per cluster, numpy chunked matmul) — EXACTLY how the
   reference implementation shards the problem (one GPU per cluster);
   choose ``k ~ corpus_size / target_cluster_size`` so a cluster fits
   an executor. Clusters above ``cluster_cap`` are split into
   sub-clusters first (``_split_over_cap``).

The greedy set is genuinely iterative (kept-set membership depends on
earlier decisions), so the registry entry is rows-only; the invariant
suite (tests/test_semdedup.py) checks determinism, the pairwise
contract (every drop is >= 1-eps cosine to its kept ``dup_of``, every
kept pair within a cluster is < 1-eps), a planted-duplicate recall
anchor, and bit-parity with a pure-python greedy reference at k=1.
"""

from __future__ import annotations

import math
import warnings
from functools import reduce

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import local_frame
from .ivf import assign_buckets, fit_ivf
from .similarity import prep_vectors

DEFAULT_EPS = 0.05
DEFAULT_CLUSTER_CAP = 65536
_SPLIT_MAX_DEPTH = 4
# Hash-shard fallback rounds after KMeans stops making progress. Each
# round re-checks sizes (round-18 advisor item: the single unchecked
# hash round targeted ~cap/2 per shard but was unbounded — a skewed
# shard could still exceed the cap and then abort in per_cluster with
# the misleading 'increase k' message) and re-shards any still-over-cap
# shard with a doubled shard count, so completion is guaranteed for any
# corpus with distinct vec_ids.
_HASH_MAX_ROUNDS = 3
# Past this many literal doubles (centers x dim), the own-cluster
# centroid moves from a plan-literal array to a broadcast-joined
# (cluster, centroid) frame (round-18 advisor item: _split_over_cap can
# grow centers by ~n_over/(cap/2) per round, and an O(n_centers x dim)
# nested F.array literal blows up driver-side plan size / codegen on
# exactly the over-cap corpora the split targets).
_CENTER_LITERAL_MAX_DOUBLES = 65536

OUT_SCHEMA = (
    "vec_id long, cluster int, centroid_sim double, keep boolean, "
    "dup_of long"
)


def _greedy_cluster(pdf: pd.DataFrame, eps: float) -> pd.DataFrame:
    """Exact SemDeDup greedy over ONE cluster: iterate in rank order
    (centroid_sim asc, vec_id asc); keep a row iff its max cosine to
    the already-kept set is < 1 - eps. numpy matmul against the kept
    block — O(s * kept) flops, s = cluster size."""
    import numpy as np

    pdf = pdf.sort_values(["centroid_sim", "vec_id"]).reset_index(drop=True)
    mat = np.stack(pdf["emb_r"].to_numpy()).astype("float64")
    norms = pdf["emb_norm"].to_numpy().astype("float64")
    norms = np.where(norms == 0.0, 1.0, norms)  # zero vectors: sim 0
    unit = mat / norms[:, None]
    kept_idx: list[int] = []
    keep = [False] * len(pdf)
    dup_of = [None] * len(pdf)
    thresh = 1.0 - eps
    for i in range(len(pdf)):
        if kept_idx:
            sims = unit[kept_idx] @ unit[i]
            j = int(np.argmax(sims))
            # round like cosine_prepped (6dp) so the Spark-side
            # verification joins reproduce the same comparison
            if round(float(sims[j]), 6) >= thresh:
                dup_of[i] = int(pdf["vec_id"].iloc[kept_idx[j]])
                continue
        kept_idx.append(i)
        keep[i] = True
    return pd.DataFrame(
        {
            "vec_id": pdf["vec_id"],
            "cluster": pdf["cluster"],
            "centroid_sim": pdf["centroid_sim"],
            "keep": keep,
            "dup_of": pd.array(dup_of, dtype="Int64"),
        }
    )


def _split_over_cap(
    assigned: DataFrame,
    centers: list[list[float]],
    cluster_cap: int,
    seed: int,
) -> tuple[DataFrame, list[list[float]], list[int]]:
    """Recursively split clusters larger than ``cluster_cap`` so the
    per-cluster greedy's Arrow batch always fits an executor (r16
    verdict item 3: a 100 TB corpus WILL have over-cap clusters and
    must not abort).

    Each round: one size aggregate finds over-cap clusters (driver list
    bounded by the live cluster count); each is re-clustered with a
    seeded KMeans on just its rows (sub-clustering IS the paper's own
    recipe applied recursively — the new invisible cross-sub-cluster
    pairs are the same class of trade SemDeDup already makes across
    top-level clusters). Sub-cluster ids extend ``centers`` so rank
    order uses the true sub-centroid. Target size ``cluster_cap // 2``
    leaves headroom for KMeans imbalance.

    Degenerate corpora (e.g. one point repeated past the cap — KMeans
    cannot separate identical vectors) stop making progress; after
    ``_SPLIT_MAX_DEPTH`` rounds the remainder is hash-sharded on
    md5(vec_id) into deterministic sub-shards that inherit the parent
    centroid. Hash rounds target ``cluster_cap // 4`` per shard and —
    unlike the r17 form, which never re-checked — every round's output
    is re-measured; a still-over-cap shard (md5 skew) is re-sharded
    with a doubled shard count for up to ``_HASH_MAX_ROUNDS`` rounds.
    Within a shard all near-dups are still found; across shards they
    are invisible — for identical points the result is one keeper per
    shard instead of one total, the documented last-resort degradation.
    If even the hash rounds cannot satisfy the cap (only possible when
    vec_ids are themselves duplicated, so every row of a group hashes
    identically) the error names the split fallback — not the
    misleading 'increase k'.

    Returns ``(assigned, centers, hash_sharded_ids)`` where the third
    element lists the FINAL cluster ids produced by hash sharding, so
    callers can surface how often the degradation fired
    (:func:`semantic_dedup_stats` exposes it as a per-cluster flag).

    Lineage is flattened with an eager localCheckpoint per round so
    repeated splitting cannot stack unions into a deep plan.
    """
    target = max(1, cluster_cap // 2)
    hash_target = max(1, cluster_cap // 4)
    hash_ids: set[int] = set()
    for depth in range(_SPLIT_MAX_DEPTH + _HASH_MAX_ROUNDS + 1):
        sizes = (
            assigned.groupBy("cluster")
            .agg(F.count(F.lit(1)).alias("n"))
            .filter(F.col("n") > cluster_cap)
        )
        over = sorted(
            (r["cluster"], r["n"]) for r in sizes.collect()
        )  # bounded: one row per over-cap cluster
        if not over:
            return assigned, centers, sorted(hash_ids)
        if depth >= _SPLIT_MAX_DEPTH + _HASH_MAX_ROUNDS:
            raise ValueError(
                f"semantic_dedup: clusters {over!r} still"
                f" exceed cluster_cap={cluster_cap} after"
                f" {_SPLIT_MAX_DEPTH} KMeans rounds and {_HASH_MAX_ROUNDS}"
                " md5(vec_id) hash-shard rounds — vec_id values must be"
                " duplicated (distinct ids always hash-shard under the"
                " cap); deduplicate vec_id upstream"
            )
        hash_round = depth - _SPLIT_MAX_DEPTH  # >= 0 once KMeans is done
        over_ids = [c for c, _ in over]
        pieces = [assigned.filter(~F.col("cluster").isin(over_ids))]
        for c, n in over:
            sub = assigned.filter(F.col("cluster") == c)
            base = len(centers)
            if hash_round < 0:
                # Deterministic per-(seed, cluster, depth) KMeans.
                n_shards = max(2, math.ceil(n / target))
                model = fit_ivf(
                    sub, k=n_shards, seed=seed * 1_000_003 + c * 31 + depth
                )
                pieces.append(
                    assign_buckets(sub, model)
                    .withColumn(
                        "cluster",
                        (F.col("ivf_bucket") + F.lit(base)).cast("int"),
                    )
                    .drop("ivf_bucket")
                )
                centers.extend(
                    [float(v) for v in cc] for cc in model.clusterCenters()
                )
            else:
                # Doubling per re-shard round strictly spreads md5 skew.
                # The hash is salted with the round number: an unsalted
                # md5(vec_id) reused under a new modulus keeps every row
                # of a stuck shard congruent mod the OLD modulus, so the
                # rows land in only n_new/gcd(n_old, n_new) of the new
                # shards (2-way when n_new is a multiple, ZERO progress
                # when n_new divides n_old). Salting makes each round's
                # assignment independent, so doubling genuinely halves
                # the worst shard in expectation and the terminal
                # ValueError's duplicated-vec_id diagnosis is accurate.
                n_shards = max(2, math.ceil(n / hash_target)) * (
                    2**hash_round
                )
                shard = F.pmod(
                    F.conv(
                        F.substring(
                            F.md5(
                                F.concat_ws(
                                    ":",
                                    F.col("vec_id").cast("string"),
                                    F.lit(str(hash_round)),
                                )
                            ),
                            1,
                            13,
                        ),
                        16,
                        10,
                    ).cast("long"),
                    F.lit(n_shards),
                )
                pieces.append(
                    sub.withColumn(
                        "cluster", (shard + F.lit(base)).cast("int")
                    )
                )
                centers.extend([centers[c]] * n_shards)
                hash_ids.discard(c)  # parent id no longer exists
                hash_ids.update(range(base, base + n_shards))
        assigned = reduce(DataFrame.unionByName, pieces).localCheckpoint(
            eager=True
        )
    raise AssertionError("unreachable: loop exits via return or raise")


def semantic_dedup(
    corpus: DataFrame,
    k: int = 16,
    eps: float = DEFAULT_EPS,
    seed: int = 42,
    cluster_cap: int = DEFAULT_CLUSTER_CAP,
) -> DataFrame:
    """(vec_id, cluster, centroid_sim, keep, dup_of) for every corpus
    vector. ``keep=False`` rows carry the kept ``dup_of`` vector that
    shadowed them (cosine >= 1 - eps, same cluster, earlier in rank
    order).

    Clusters larger than ``cluster_cap`` (the executor-memory bound on
    the per-cluster Arrow batch) are recursively sub-clustered by
    :func:`_split_over_cap`, so the job completes at any corpus size."""
    if k == 1:
        # No quantizer (MLlib KMeans needs k >= 2): one global cluster,
        # centroid = the corpus mean — the pure-greedy mode the k=1
        # parity test pins against a reference implementation.
        row = corpus.select(F.size("embedding").alias("d")).first()
        if row is None:
            raise ValueError(
                "semantic_dedup: empty corpus — nothing to deduplicate"
            )
        dim = row["d"]
        mean_row = corpus.select(
            *[
                F.avg(F.element_at("embedding", i + 1).cast("double")).alias(
                    f"m{i}"
                )
                for i in range(dim)
            ]
        ).first()
        centers = [[float(mean_row[f"m{i}"]) for i in range(dim)]]
        assigned = corpus.withColumn("cluster", F.lit(0))
    else:
        model = fit_ivf(corpus, k=k, seed=seed)
        assigned = assign_buckets(corpus, model).withColumnRenamed(
            "ivf_bucket", "cluster"
        )
        centers = [[float(v) for v in c] for c in model.clusterCenters()]
    assigned, centers, hash_ids = _split_over_cap(
        assigned, centers, cluster_cap, seed
    )
    prepped = prep_vectors(assigned)

    # Map-side cosine to the own-cluster centroid. Small center sets
    # ship as a broadcast plan literal (k x dim doubles — KBs, zero
    # shuffle); past _CENTER_LITERAL_MAX_DOUBLES the same lookup is a
    # broadcast hash join against a tiny (cluster, centroid) frame —
    # identical math, but plan size stays O(1) in n_centers (round-18
    # advisor item: over-cap splitting can grow centers unboundedly and
    # an O(n_centers x dim) literal blows up codegen).
    dim = len(centers[0])
    if len(centers) * dim <= _CENTER_LITERAL_MAX_DOUBLES:
        ctr_arr = F.array(
            *[F.array(*[F.lit(v) for v in c]) for c in centers]
        )
        ctr = F.element_at(ctr_arr, F.col("cluster") + 1)
    else:
        ctr_df = local_frame(
            prepped.sparkSession,
            list(enumerate(centers)),
            "cluster int, _ctr array<double>",
        )
        prepped = prepped.join(F.broadcast(ctr_df), "cluster")
        ctr = F.col("_ctr")
    dot = F.aggregate(
        F.zip_with(F.col("emb_r"), ctr, lambda x, y: x * y),
        F.lit(0.0),
        lambda a, x: a + x,
    )
    ctr_norm = F.sqrt(
        F.aggregate(
            F.transform(ctr, lambda x: x * x), F.lit(0.0), lambda a, x: a + x
        )
    )
    scored = prepped.withColumn(
        "centroid_sim",
        F.round(F.try_divide(dot, F.col("emb_norm") * ctr_norm), 6),
    ).select("vec_id", "cluster", "emb_r", "emb_norm", "centroid_sim")

    def per_cluster(key, pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) > cluster_cap:
            raise ValueError(
                f"semantic_dedup cluster {key[0]} has {len(pdf)} vectors"
                f" > cluster_cap={cluster_cap}; increase k so clusters"
                " fit an executor (never silently keeps duplicates)"
            )
        return _greedy_cluster(pdf, eps)

    out = scored.groupBy("cluster").applyInPandas(
        per_cluster, schema=OUT_SCHEMA
    )
    # Side-channel for semantic_dedup_stats (round-17 verdict item 3):
    # which final cluster ids came from the md5 hash-shard fallback —
    # a bounded driver-side list, so a production run can SEE when the
    # last-resort degradation fired instead of inferring it. The
    # attribute lives on THIS DataFrame object only: ANY derived frame
    # (.filter/.select/.cache/...) and any persistence round-trip drops
    # it — semantic_dedup_stats detects the absence (vs present-but-
    # empty) and warns callers to pass the list explicitly.
    out.semdedup_hash_sharded_clusters = tuple(hash_ids)
    return out


def semantic_dedup_k1_exact(
    corpus: DataFrame, eps: float = DEFAULT_EPS
) -> DataFrame:
    """Oracle-replicable k=1 SemDeDup (round-13 verdict item 6): the
    same greedy keeper policy as :func:`semantic_dedup` but with every
    float op pinned to an engine-independent form so a DuckDB twin
    (:func:`semantic_dedup_k1_sql` — a recursive CTE) reproduces the
    decisions BIT-EXACTLY and the family gets a hash-checked oracle
    row, not just invariant pytest:

    - centroid = per-dimension DECIMAL(18,8)-exact mean of the 8dp-
      rounded embeddings (order-independent integer sums, then one
      double division) — ``semantic_dedup``'s double ``avg`` is
      partitioning-order-dependent at the ulp level, which a 6dp
      rounding boundary could expose;
    - every dot product accumulates in DIMENSION order (the strict
      left fold of ``F.aggregate`` / DuckDB ``list_sum``), never a
      BLAS matmul (numpy's pairwise/SIMD summation can differ by an
      ulp — the mmr_rerank precedent);
    - pair similarities round to 6dp BEFORE the threshold compare and
      the dup_of argmax; ties pick the EARLIEST kept vector.

    Output adds ``dup_sim`` (the rounded similarity to ``dup_of``,
    NULL for kept rows) so drop decisions are auditable downstream.

    Scale note: k=1 funnels the corpus through ONE Arrow batch — this
    is the parity/report mode; the scale path is
    :func:`semantic_dedup` with k ~ corpus/target_cluster_size.
    """
    import numpy as np

    row = corpus.select(F.size("embedding").alias("d")).first()
    if row is None:
        raise ValueError(
            "semantic_dedup_k1_exact: empty corpus — nothing to deduplicate"
        )
    dim = row["d"]
    prepped = prep_vectors(corpus)
    sums = prepped.select(
        F.count(F.lit(1)).alias("n"),
        *[
            F.sum(
                F.element_at("emb_r", i + 1).cast("decimal(18,8)")
            ).alias(f"s{i}")
            for i in range(dim)
        ],
    ).first()
    n = sums["n"]
    ctr = [float(sums[f"s{i}"]) / n for i in range(dim)]
    ctr_norm_acc = 0.0
    for v in ctr:
        ctr_norm_acc += v * v
    ctr_norm = ctr_norm_acc**0.5
    ctr_lit = F.array(*[F.lit(v) for v in ctr])
    dot = F.aggregate(
        F.zip_with(F.col("emb_r"), ctr_lit, lambda x, y: x * y),
        F.lit(0.0),
        lambda a, x: a + x,
    )
    scored = prepped.select(
        "vec_id",
        "emb_r",
        "emb_norm",
        F.round(
            F.try_divide(dot, F.col("emb_norm") * F.lit(ctr_norm)), 6
        ).alias("centroid_sim"),
        F.lit(0).alias("_g"),
    )
    thresh = 1.0 - eps

    # Pair sims round HALF-AWAY-FROM-ZERO at 6dp, mirroring DuckDB's
    # ROUND on DOUBLE (std::round(x*1e6)/1e6): floor(|x|*1e6 + 0.5),
    # copysign — vectorized inside `greedy`. Python's round() is
    # banker's (half-to-even) and disagrees on representable
    # midpoints: round(0.0078125, 6) == 0.007812 but DuckDB gives
    # 0.007813 (round-13 review finding) — a midpoint straddling
    # 1-eps would silently flip a keep decision vs the oracle.
    def greedy(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["centroid_sim", "vec_id"]).reset_index(
            drop=True
        )
        n = len(pdf)
        mat = np.stack(pdf["emb_r"].to_numpy()).astype("float64")
        norms = pdf["emb_norm"].to_numpy().astype("float64")
        # preallocated kept block (append = O(1) row write, no per-i
        # fancy-index copy of the whole kept set)
        kept_mat = np.empty_like(mat)
        kept_norms = np.empty(n)
        kept_rows = np.empty(n, dtype=np.int64)
        m = 0
        keep = [False] * n
        dup_of = [None] * n
        dup_sim = [None] * n
        for i in range(n):
            if m:
                # dimension-ordered accumulation == the engines' left
                # fold, elementwise across the kept block
                kb = kept_mat[:m]
                acc = np.zeros(m)
                for d in range(mat.shape[1]):
                    acc += kb[:, d] * mat[i, d]
                # Vectorized round6 (same float64 ops as the scalar
                # form: |x|*1e6 + 0.5, floor, /1e6, copysign). Zero-
                # norm pairs divide by 0 → sim undefined: mask them
                # out (the SQL twin's NULLIF → NULL, skipped by
                # list_max) instead of letting round6 overflow on inf.
                den = kept_norms[:m] * norms[i]
                valid = den != 0.0
                with np.errstate(divide="ignore", invalid="ignore"):
                    s = acc / den
                s6 = np.copysign(
                    np.floor(np.abs(s) * 1e6 + 0.5) / 1e6, s
                )
                if valid.any():
                    best = float(s6[valid].max())
                    if best >= thresh:
                        # earliest kept on ties: first valid index
                        # achieving the max (== list.index on the
                        # scalar form's sims)
                        j = int(
                            np.flatnonzero(valid & (s6 == best))[0]
                        )
                        dup_of[i] = int(
                            pdf["vec_id"].iloc[kept_rows[j]]
                        )
                        dup_sim[i] = best
                        continue
            kept_mat[m] = mat[i]
            kept_norms[m] = norms[i]
            kept_rows[m] = i
            m += 1
            keep[i] = True
        return pd.DataFrame(
            {
                "vec_id": pdf["vec_id"],
                "centroid_sim": pdf["centroid_sim"],
                "keep": keep,
                "dup_of": pd.array(dup_of, dtype="Int64"),
                "dup_sim": pd.array(dup_sim, dtype="float64"),
            }
        )

    return scored.groupBy("_g").applyInPandas(
        greedy,
        schema=(
            "vec_id long, centroid_sim double, keep boolean,"
            " dup_of long, dup_sim double"
        ),
    )


def semantic_dedup_k1_sql(
    eps: float = DEFAULT_EPS, table: str = "embeddings"
) -> str:
    """DuckDB twin of :func:`semantic_dedup_k1_exact`: the greedy pass
    as a RECURSIVE CTE over rank order — one row considered per
    recursion step against the accumulated kept list, identical
    decimal-exact centroid, fold-order dots, 6dp rounding, and
    earliest-kept tie-break (``list_position`` returns the FIRST
    index of the max)."""
    return f"""
WITH RECURSIVE
t AS (
  SELECT vec_id,
         list_transform(embedding, x -> ROUND(CAST(x AS DOUBLE), 8)) AS e
  FROM {table}
),
nrm AS (
  SELECT vec_id, e, sqrt(list_sum(list_transform(e, x -> x * x))) AS nv
  FROM t
),
ctr AS (
  SELECT list(val ORDER BY d) AS c FROM (
    SELECT d, CAST(SUM(CAST(x AS DECIMAL(18,8))) AS DOUBLE)
              / (SELECT COUNT(*) FROM t) AS val
    FROM (SELECT unnest(e) AS x, unnest(range(1, len(e) + 1)) AS d FROM t)
    GROUP BY d
  )
),
scored AS (
  SELECT vec_id, e, nv,
         ROUND(list_sum(list_transform(list_zip(e, (SELECT c FROM ctr)),
                                       z -> z[1] * z[2]))
               / NULLIF(nv * sqrt(list_sum(list_transform((SELECT c FROM ctr),
                                                          x -> x * x))), 0),
               6) AS centroid_sim
  FROM nrm
),
ranked AS (
  SELECT vec_id, e, nv, centroid_sim,
         ROW_NUMBER() OVER (ORDER BY centroid_sim, vec_id) AS rn
  FROM scored
),
greedy AS (
  SELECT 1 AS rn,
         [struct_pack(vec_id := vec_id, e := e, nv := nv)] AS kept,
         [struct_pack(vec_id := vec_id, centroid_sim := centroid_sim,
                      keep := TRUE, dup_of := CAST(NULL AS BIGINT),
                      dup_sim := CAST(NULL AS DOUBLE))] AS outp
  FROM ranked WHERE rn = 1
  UNION ALL
  SELECT r.rn,
         CASE WHEN list_max(s.sims) >= (1.0 - {eps}) THEN g.kept
              ELSE list_append(g.kept, struct_pack(
                     vec_id := r.vec_id, e := r.e, nv := r.nv)) END,
         list_append(g.outp, struct_pack(
           vec_id := r.vec_id, centroid_sim := r.centroid_sim,
           keep := COALESCE(list_max(s.sims) < (1.0 - {eps}), TRUE),
           dup_of := CASE WHEN list_max(s.sims) >= (1.0 - {eps})
                          THEN g.kept[list_position(s.sims,
                                                    list_max(s.sims))].vec_id
                     END,
           dup_sim := CASE WHEN list_max(s.sims) >= (1.0 - {eps})
                           THEN list_max(s.sims) END))
  FROM greedy g
  JOIN ranked r ON r.rn = g.rn + 1
  CROSS JOIN LATERAL (
    -- NULLIF zero-norm guard (round-13 advisor): a zero-norm vector's
    -- pair similarity is NULL, skipped by list_max; an all-NULL sims
    -- list keeps the row via the COALESCE above — mirroring the
    -- pandas greedy, which drops zero-denominator pairs before max().
    SELECT list_transform(g.kept, kk ->
      ROUND(list_sum(list_transform(list_zip(kk.e, r.e),
                                    z -> z[1] * z[2]))
            / NULLIF(kk.nv * r.nv, 0), 6)) AS sims
  ) s
)
SELECT u.vec_id AS vec_id, u.centroid_sim AS centroid_sim,
       u.keep AS keep, u.dup_of AS dup_of, u.dup_sim AS dup_sim
FROM (SELECT unnest(outp) AS u FROM greedy
      WHERE rn = (SELECT COUNT(*) FROM t))
"""


def semantic_dedup_stats(
    dedup: DataFrame, hash_sharded: tuple[int, ...] | None = None
) -> DataFrame:
    """Per-cluster summary of a :func:`semantic_dedup` result: cluster
    size, kept count, drop ratio, and whether the cluster was produced
    by the md5 hash-shard fallback (round-17 verdict item 3: the
    fallback's cross-shard invisibility was documented but not
    observable — ``hash_sharded=true`` rows now carry it, so
    ``n_hash_sharded_clusters`` is a filter-count and the rows affected
    are ``sum(n_vectors) where hash_sharded``).

    ``hash_sharded`` defaults to the id list :func:`semantic_dedup`
    attached to its result. The attribute is a plain Python attribute
    on that exact DataFrame object: ANY derived frame
    (``.filter``/``.select``/``.cache``/...) — not only a persistence
    round-trip — silently drops it, and :func:`semantic_dedup` always
    attaches it (empty tuple when no shard fired), so an ABSENT
    attribute means the caller is holding a derived/round-tripped
    frame. That case warns and defaults to no flags; pass
    ``hash_sharded`` explicitly there (round-18 advisor item 2: the
    silent ``hash_sharded=False`` on derived frames is now
    observable)."""
    if hash_sharded is None:
        _MISSING = object()
        attr = getattr(dedup, "semdedup_hash_sharded_clusters", _MISSING)
        if attr is _MISSING:
            warnings.warn(
                "semantic_dedup_stats: this frame does not carry"
                " semedup's hash-shard side-channel (derived or"
                " round-tripped frame?) — hash_sharded flags default to"
                " False; pass hash_sharded= explicitly",
                stacklevel=2,
            )
            hash_sharded = ()
        else:
            hash_sharded = attr
    flag = (
        F.col("cluster").isin(list(hash_sharded))
        if hash_sharded
        else F.lit(False)
    )
    return (
        dedup.groupBy("cluster")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_vectors"),
            F.sum(F.when(F.col("keep"), 1).otherwise(0))
            .cast("long")
            .alias("n_kept"),
        )
        .withColumn(
            "drop_ratio",
            F.round(1 - F.col("n_kept") / F.col("n_vectors"), 6),
        )
        .withColumn("hash_sharded", flag)
        .orderBy("cluster")
    )
