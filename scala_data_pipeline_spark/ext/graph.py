"""Iterative graph scoring over document-similarity graphs.

Fixed-iteration PageRank on the (symmetric) near-dup candidate-pair
graph: centrality here ranks documents by how embedded they are in
near-duplicate neighborhoods — highly-ranked docs are template-like
content that deduplication should treat as cluster representatives (or
drop wholesale).

The reference has no graph operators at all; this is a training-data
pipeline extension alongside the connected-components machinery in
``ext/components.py``. Spark-first design notes:

- The edge list is built once, ``distinct``-ed, and cached; each of the
  K fixed iterations is one equi-join (rank onto edge source) plus one
  hash aggregate (sum contributions by destination) — 2 shuffles per
  iteration, all on uniform hash-derived doc ids (skew-free).
- K is fixed (default 3), so the lineage is bounded and needs no
  checkpointing; convergence-style variants should reuse the
  ``localCheckpoint``-per-round pattern from ``connected_components``.
- Per-edge contributions are rounded and summed as DECIMAL so the
  aggregate is exact and order-independent — the result is identical
  under any partitioning, which is what makes a value-hash oracle
  possible (same idiom as the money aggregates, see SCALE_NOTES.md).
- The vertex count N enters the damping term as a driver-side scalar
  (one cheap count over the degree frame — same driver-boundary
  pattern as the reference's max-date collect,
  users_items/users_items.scala:48-52).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DAMPING = 0.85
ITERATIONS = 3
# Per-edge contributions are rounded to this scale and summed as
# DECIMAL(20,12): exact, order-independent arithmetic.
_SCALE = 12


def pagerank_on_pairs(pairs: DataFrame) -> DataFrame:
    """Fixed-iteration PageRank over a symmetric pair graph.

    ``pairs`` must have columns ``doc_a``/``doc_b`` (one row per
    undirected edge). Vertices are the docs incident to at least one
    edge; every vertex of a symmetric graph has in-degree >= 1, so no
    dangling-mass handling is needed. Returns
    ``doc_id, degree, rank`` with ``rank`` rounded to 12 places.
    """
    bi = (
        pairs.select(
            F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
        )
        .union(
            pairs.select(
                F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")
            )
        )
        .distinct()
    )
    # localCheckpoint (not persist): bi and deg are referenced by every
    # iteration's join; materializing them once truncates the lineage
    # and the storage is released when the frames are GC'd — no
    # explicit unpersist needed on a lazily-returned plan (same
    # reasoning as the components rounds, ext/components.py).
    bi = bi.localCheckpoint(eager=True)
    deg = bi.groupBy("src").agg(
        F.count("*").cast("long").alias("degree")
    ).localCheckpoint(eager=True)
    n_vertices = deg.count()
    if n_vertices == 0:
        # Empty graph: empty result with the contract schema.
        return deg.select(
            F.col("src").alias("doc_id"),
            F.col("degree"),
            F.lit(0.0).alias("rank"),
        )
    base = round((1.0 - DAMPING) / n_vertices, _SCALE)
    rank = deg.select(
        "src", F.round(F.lit(1.0 / n_vertices), _SCALE).alias("rank")
    )
    for _ in range(ITERATIONS):
        contrib = (
            bi.join(rank, on="src")
            .join(deg, on="src")
            .select(
                F.col("dst"),
                F.round(F.col("rank") / F.col("degree"), _SCALE)
                .cast(f"decimal(20,{_SCALE})")
                .alias("contrib"),
            )
            .groupBy("dst")
            .agg(F.sum("contrib").alias("in_mass"))
        )
        rank = contrib.select(
            F.col("dst").alias("src"),
            F.round(
                F.lit(base)
                + F.lit(DAMPING) * F.col("in_mass").cast("double"),
                _SCALE,
            ).alias("rank"),
        )
    out = deg.join(rank, on="src").select(
        F.col("src").alias("doc_id"), "degree", "rank"
    )
    return out


def pagerank_sql(pairs_sql: str) -> str:
    """DuckDB twin of :func:`pagerank_on_pairs`: the K iterations are
    unrolled into a chain of CTEs over the same pair query."""
    s = _SCALE
    ctes = [
        f"pairs AS ({pairs_sql})",
        "bi AS (SELECT doc_a AS src, doc_b AS dst FROM pairs"
        " UNION SELECT doc_b, doc_a FROM pairs)",
        "deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS degree"
        " FROM bi GROUP BY src)",
        "nv AS (SELECT COUNT(*) AS n FROM deg)",
        f"r0 AS (SELECT src, ROUND(1.0 / n, {s}) AS rank FROM deg, nv)",
    ]
    prev = "r0"
    for i in range(1, ITERATIONS + 1):
        ctes.append(
            f"r{i} AS (SELECT bi.dst AS src, "
            f"ROUND(ROUND((1.0 - {DAMPING}) / nv.n, {s}) + {DAMPING} * "
            f"CAST(SUM(CAST(ROUND({prev}.rank / deg.degree, {s}) "
            f"AS DECIMAL(20,{s}))) AS DOUBLE), {s}) AS rank "
            f"FROM bi JOIN {prev} ON bi.src = {prev}.src "
            "JOIN deg ON bi.src = deg.src, nv "
            "GROUP BY bi.dst, nv.n)"
        )
        prev = f"r{i}"
    return (
        "WITH " + ",\n".join(ctes) + "\nSELECT deg.src AS doc_id, "
        f"deg.degree, {prev}.rank FROM deg JOIN {prev} ON deg.src = {prev}.src"
    )


def triangle_counts(pairs: DataFrame) -> DataFrame:
    """Per-vertex triangle counts over a symmetric pair graph — dense
    near-dup neighborhoods (template farms, mirrored boilerplate) show
    up as high triangle density where plain degree can't distinguish a
    star (one hub template) from a clique (mutual near-dups).

    Degree-ordered node-iterator (Suri & Vassilvitskii, WWW 2011 — the
    "curse of the last reducer" fix): every edge is oriented from its
    lower-(degree, id) endpoint to the higher one, so each vertex's
    out-degree is O(sqrt(m)) and the wedge join's fan-out is bounded by
    sum(out_deg^2) <= m^1.5 instead of the unbounded sum(deg^2) a hub
    vertex causes. Each triangle then has exactly ONE apex with two
    out-edges, so it is generated and counted exactly once. All stages
    are equi-joins on doc ids (uniform, hash-derived keys).

    ``pairs`` must carry canonical ``doc_a < doc_b`` edges (what
    ``lsh_candidate_pairs`` emits). Returns (doc_id, n_triangles) for
    vertices in at least one triangle.
    """
    # The edge list is referenced by degree, orientation AND closure —
    # materialize it once so an expensive upstream (the LSH signature
    # pipeline) doesn't re-execute per reference (measured: 49→~12
    # shuffles in the registry query's plan; production checkpoints
    # edges to parquet, see scripts/scale_smoke_pairs.py). Same idiom
    # as knn_join's SRP index; storage is GC-released with the frame.
    e = pairs.select("doc_a", "doc_b").distinct().localCheckpoint(eager=True)
    deg = (
        e.select(F.col("doc_a").alias("v"))
        .unionByName(e.select(F.col("doc_b").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    withdeg = e.join(
        deg.select(F.col("v").alias("doc_a"), F.col("d").alias("da")),
        on="doc_a",
    ).join(
        deg.select(F.col("v").alias("doc_b"), F.col("d").alias("db")),
        on="doc_b",
    )
    lo_is_a = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("doc_a") < F.col("doc_b"))
    )
    oriented = withdeg.select(
        F.when(lo_is_a, F.col("doc_a")).otherwise(F.col("doc_b")).alias("lo"),
        F.when(lo_is_a, F.col("doc_b")).otherwise(F.col("doc_a")).alias("hi"),
    )
    wedges = (
        oriented.select("lo", F.col("hi").alias("b"))
        .join(oriented.select("lo", F.col("hi").alias("c")), on="lo")
        .filter(F.col("b") < F.col("c"))
    )
    tri = wedges.join(
        e.select(F.col("doc_a").alias("b"), F.col("doc_b").alias("c")),
        on=["b", "c"],
    )
    return (
        tri.select(F.explode(F.array("lo", "b", "c")).alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_triangles"))
    )


def triangle_counts_sql(cand_sql: str) -> str:
    """DuckDB twin of :func:`triangle_counts` over the same candidate
    CTE (``cand_sql`` must yield canonical doc_a < doc_b edges)."""
    return f"""
WITH cand AS ({cand_sql}),
verts AS (
  SELECT doc_a AS v FROM cand UNION ALL SELECT doc_b AS v FROM cand
), deg AS (
  SELECT v, COUNT(*) AS d FROM verts GROUP BY v
), oriented AS (
  SELECT CASE WHEN da.d < db.d OR (da.d = db.d AND c.doc_a < c.doc_b)
              THEN c.doc_a ELSE c.doc_b END AS lo,
         CASE WHEN da.d < db.d OR (da.d = db.d AND c.doc_a < c.doc_b)
              THEN c.doc_b ELSE c.doc_a END AS hi
  FROM cand c
  JOIN deg da ON da.v = c.doc_a
  JOIN deg db ON db.v = c.doc_b
), wedges AS (
  SELECT o1.lo, o1.hi AS b, o2.hi AS c
  FROM oriented o1 JOIN oriented o2 ON o1.lo = o2.lo AND o1.hi < o2.hi
), tri AS (
  SELECT w.lo, w.b, w.c
  FROM wedges w JOIN cand e ON e.doc_a = w.b AND e.doc_b = w.c
)
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_triangles
FROM (SELECT unnest([lo, b, c]) AS doc_id FROM tri)
GROUP BY doc_id
"""


# --------------------------------------------------------------------
# k-core decomposition (iterative peel)
# --------------------------------------------------------------------

KCORE_K = 3
KCORE_MAX_ROUNDS = 8


def kcore_vertices(pairs: DataFrame, k: int = KCORE_K) -> DataFrame:
    """Vertices of the k-core of a symmetric pair graph, with their
    degree inside the core — the standard "dense near-dup community"
    extraction (a k-core survives every vertex having ≥ k neighbors
    that themselves survive; Seidman, "Network structure and minimum
    degree", Social Networks 1983).

    Iterative peel: each round computes degrees (one aggregate on
    uniform doc-id keys) and drops sub-k vertices from the edge list
    (two semi-joins), ``localCheckpoint`` per round to cut lineage —
    the connected-components idiom. Rounds are bounded by the peel
    depth, not the vertex count; ``KCORE_MAX_ROUNDS`` makes
    non-convergence loud instead of silent, and the DuckDB oracle
    unrolls exactly ``KCORE_MAX_ROUNDS`` stages so both engines
    provably compute the same fixpoint (peeling is idempotent once
    stable, so extra oracle stages are no-ops).
    """
    # Canonicalize BEFORE the distinct (least/greatest, self-loops
    # dropped): the downstream union counts each edge once per
    # direction, so an input that already carries both orientations of
    # an edge would otherwise double-count degrees — silently, since
    # the SQL twin's UNION dedups. This removes the undocumented
    # dependence on lsh_candidate_pairs' doc_a < doc_b output contract.
    e = (
        pairs.select(
            F.least("doc_a", "doc_b").alias("doc_a"),
            F.greatest("doc_a", "doc_b").alias("doc_b"),
        )
        .where(F.col("doc_a") != F.col("doc_b"))
        .distinct()
    )
    bi = (
        e.union(e.select(F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b")))
        .withColumnsRenamed({"doc_a": "src", "doc_b": "dst"})
        .localCheckpoint(eager=True)
    )
    edges = bi
    prev_vertices = -1
    for _ in range(KCORE_MAX_ROUNDS):
        survivors = (
            edges.groupBy("src")
            .count()
            .where(F.col("count") >= k)
            .select(F.col("src").alias("v"))
        )
        n = survivors.count()
        if n == prev_vertices:
            break
        prev_vertices = n
        edges = (
            edges.join(
                survivors, edges.src == survivors.v, "left_semi"
            )
            .join(
                survivors.withColumnRenamed("v", "w"),
                F.col("dst") == F.col("w"),
                "left_semi",
            )
            .localCheckpoint(eager=True)
        )
    else:
        raise RuntimeError(
            f"k-core peel did not converge in {KCORE_MAX_ROUNDS} rounds; "
            "raise max_rounds (and regenerate the oracle) for this graph"
        )
    return (
        edges.groupBy("src")
        .count()
        .select(
            F.col("src").alias("doc_id"),
            F.col("count").cast("long").alias("core_deg"),
        )
    )


def kcore_sql(pairs_sql: str, k: int = KCORE_K) -> str:
    """DuckDB twin: ``KCORE_MAX_ROUNDS`` unrolled peel stages over the
    pair query (must yield doc_a, doc_b). Idempotent past the fixpoint,
    so it matches the Spark loop whenever that loop converged within
    ``KCORE_MAX_ROUNDS`` rounds (which it errors on otherwise)."""
    # AS MATERIALIZED is load-bearing: each stage references its
    # predecessor twice, and DuckDB inlines plain CTEs, which would
    # re-evaluate the whole peel prefix 2^KCORE_MAX_ROUNDS times.
    stages = [
        "s0 AS MATERIALIZED (SELECT DISTINCT src AS v FROM bi)",
    ]
    for i in range(1, KCORE_MAX_ROUNDS + 1):
        stages.append(
            f"""s{i} AS MATERIALIZED (
  SELECT src AS v FROM bi
  WHERE src IN (SELECT v FROM s{i - 1})
    AND dst IN (SELECT v FROM s{i - 1})
  GROUP BY src HAVING COUNT(*) >= {k}
)"""
        )
    staged = ",\n".join(stages)
    return f"""
WITH pairs AS (
  {pairs_sql}
), bi AS MATERIALIZED (
  -- doc_a <> doc_b mirrors the Spark-side canonicalization: a (v,v)
  -- input row would survive the UNION as one row and contribute a
  -- phantom degree of 1 to v.
  SELECT doc_a AS src, doc_b AS dst FROM pairs WHERE doc_a <> doc_b
  UNION
  SELECT doc_b, doc_a FROM pairs WHERE doc_a <> doc_b
),
{staged}
SELECT src AS doc_id, CAST(COUNT(*) AS BIGINT) AS core_deg
FROM bi
WHERE src IN (SELECT v FROM s{KCORE_MAX_ROUNDS})
  AND dst IN (SELECT v FROM s{KCORE_MAX_ROUNDS})
GROUP BY src
"""


# --------------------------------------------------------------------
# Local clustering coefficient (round 7)
# --------------------------------------------------------------------


def clustering_coefficients(pairs: DataFrame) -> DataFrame:
    """Per-vertex local clustering coefficient C(v) = 2·T(v) /
    (deg(v)·(deg(v)−1)) over a canonical doc_a < doc_b pair graph
    (Watts & Strogatz, "Collective dynamics of 'small-world'
    networks", Nature 1998) — the per-vertex closure statistic the
    triangle counts feed: C ≈ 1 marks mutual near-dup cliques
    (template farms), C ≈ 0 marks hub-and-spoke collision stars, the
    same corpus pathologies at two ends of the scale.

    Composes the two existing bounded plans — degree counting (one
    aggregate on uniform ids) and the degree-ordered triangle count
    (m^1.5-bounded) — with one left join; vertices in no triangle get
    C = 0, vertices of degree < 2 have no closable wedge and are
    excluded (the standard convention).
    """
    e = pairs.select("doc_a", "doc_b").distinct().localCheckpoint(eager=True)
    deg = (
        e.select(F.col("doc_a").alias("doc_id"))
        .unionByName(e.select(F.col("doc_b").alias("doc_id")))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("degree"))
    )
    tri = triangle_counts(e)
    return (
        deg.filter(F.col("degree") >= 2)
        .join(tri, on="doc_id", how="left")
        .select(
            "doc_id",
            "degree",
            F.coalesce(F.col("n_triangles"), F.lit(0))
            .cast("long")
            .alias("n_triangles"),
            F.round(
                (2 * F.coalesce(F.col("n_triangles"), F.lit(0))).cast(
                    "double"
                )
                / (F.col("degree") * (F.col("degree") - 1)).cast("double"),
                6,
            ).alias("clustering_coeff"),
        )
    )


def clustering_coefficients_sql(cand_sql: str) -> str:
    """DuckDB twin composing :func:`triangle_counts_sql`'s plan with
    the degree CTE."""
    tri = triangle_counts_sql("SELECT doc_a, doc_b FROM cand0")
    return f"""
WITH cand0 AS ({cand_sql}),
tri_counts AS ({tri}),
degs AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS degree FROM (
    SELECT doc_a AS doc_id FROM cand0
    UNION ALL SELECT doc_b FROM cand0
  ) GROUP BY doc_id
)
SELECT d.doc_id, d.degree,
       CAST(COALESCE(t.n_triangles, 0) AS BIGINT) AS n_triangles,
       ROUND(CAST(2 * COALESCE(t.n_triangles, 0) AS DOUBLE)
             / CAST(d.degree * (d.degree - 1) AS DOUBLE), 6)
         AS clustering_coeff
FROM degs d LEFT JOIN tri_counts t ON t.doc_id = d.doc_id
WHERE d.degree >= 2
"""


def bfs_hops(
    pairs: DataFrame, seeds: DataFrame, max_hops: int = 6
) -> DataFrame:
    """(doc_id, hops): minimum hop distance from the seed set over the
    symmetric pair graph, bounded by ``max_hops`` — the influence-
    radius / contamination-blast-radius primitive (how far does a bad
    boilerplate source reach through the near-dup graph?).

    Iterative frontier expansion, the components/pagerank execution
    discipline: the edge list is localCheckpointed once, each round is
    one equi-join frontier->neighbors plus one anti-join against the
    visited set, and the (small) frontier is materialized per round so
    lineage stays flat. Rounds = min(max_hops, graph eccentricity from
    the seeds); the per-round driver round-trip is one count on the
    frontier — the loop-control scalar, not data movement. At 100 TB
    the work per round is proportional to the frontier's edge
    neighborhood, the textbook distributed BFS shape.

    ``seeds`` needs a ``doc_id`` column; seed vertices report hops=0
    even when isolated. Unreached vertices are absent (not infinity).
    """
    bi = (
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .union(
            pairs.select(
                F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")
            )
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    # No cast on the seed ids: a hard cast('long') throws
    # CAST_INVALID_INPUT under ANSI on a non-numeric id graph (or
    # silently empties every join), and the SQL twin applies no cast.
    # Seeds join edges at whatever id type the caller's graph uses.
    visited = (
        seeds.select("doc_id")
        .distinct()
        .withColumn("hops", F.lit(0).cast("int"))
        .localCheckpoint(eager=True)
    )
    frontier = visited.select("doc_id")
    for h in range(1, max_hops + 1):
        nxt = (
            bi.join(frontier, bi.src == frontier.doc_id)
            .select(F.col("dst").alias("doc_id"))
            .distinct()
            .join(visited.select("doc_id"), on="doc_id", how="left_anti")
            .withColumn("hops", F.lit(h).cast("int"))
            .localCheckpoint(eager=True)
        )
        if nxt.isEmpty():
            break
        visited = visited.union(nxt).localCheckpoint(eager=True)
        frontier = nxt.select("doc_id")
    return visited


def bfs_hops_sql(
    pairs_sql: str, seeds_sql: str, max_hops: int = 6
) -> str:
    """DuckDB twin of :func:`bfs_hops`: recursive CTE bounded by
    ``max_hops``; MIN(h) per vertex = BFS distance. ``pairs_sql`` must
    yield doc_a/doc_b, ``seeds_sql`` a doc_id column."""
    return f"""
WITH RECURSIVE pairs AS (
  {pairs_sql}
), bi AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION
  SELECT doc_b, doc_a FROM pairs
), seeds AS (
  {seeds_sql}
), walk AS (
  SELECT doc_id AS v, 0 AS h FROM seeds
  UNION
  SELECT e.dst AS v, w.h + 1 AS h
  FROM walk w JOIN bi e ON e.src = w.v
  WHERE w.h < {max_hops}
)
SELECT v AS doc_id, CAST(MIN(h) AS INTEGER) AS hops FROM walk GROUP BY v
"""


def personalized_pagerank(
    pairs: DataFrame,
    seeds: DataFrame,
    iterations: int = ITERATIONS,
    damping: float = DAMPING,
) -> DataFrame:
    """Fixed-iteration PERSONALIZED PageRank: restart mass (1-d)
    concentrates on the seed set instead of spreading uniformly, so
    rank measures proximity-weighted influence FROM the seeds — the
    "how exposed is this document to a known-bad boilerplate source"
    score, the stationary cousin of :func:`bfs_hops`' hop distance.

    Same execution and exactness discipline as
    :func:`pagerank_on_pairs`: edge list and degrees localCheckpointed
    once, per-iteration contributions rounded to _SCALE and summed as
    exact decimals, so the result is partitioning-invariant and
    oracle-replayable. Seeds are intersected with the graph's vertex
    set (a seed with no edges can neither spread nor receive mass —
    documented contract). Returns (doc_id, degree, is_seed, rank).
    """
    bi = (
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .union(
            pairs.select(
                F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")
            )
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    deg = bi.groupBy("src").agg(
        F.count("*").cast("long").alias("degree")
    ).localCheckpoint(eager=True)
    # untyped seed ids, same rationale as bfs_hops (round-13 review)
    seed_set = (
        seeds.select(F.col("doc_id").alias("src"))
        .distinct()
        .join(deg.select("src"), on="src")
        .localCheckpoint(eager=True)
    )
    n_seeds = seed_set.count()
    if n_seeds == 0:
        return deg.select(
            F.col("src").alias("doc_id"),
            "degree",
            F.lit(False).alias("is_seed"),
            F.lit(0.0).alias("rank"),
        ).filter(F.lit(False))
    base_val = round((1.0 - damping) / n_seeds, _SCALE)
    base = deg.join(
        seed_set.withColumn("is_seed", F.lit(True)), on="src", how="left"
    ).select(
        "src",
        "degree",
        F.coalesce("is_seed", F.lit(False)).alias("is_seed"),
        F.when(F.col("is_seed"), F.lit(base_val))
        .otherwise(F.lit(0.0))
        .alias("base"),
    ).localCheckpoint(eager=True)
    rank = base.select("src", F.col("base").alias("rank"))
    for _ in range(iterations):
        contrib = (
            bi.join(rank, on="src")
            .join(deg, on="src")
            .select(
                F.col("dst"),
                F.round(F.col("rank") / F.col("degree"), _SCALE)
                .cast(f"decimal(20,{_SCALE})")
                .alias("contrib"),
            )
            .groupBy("dst")
            .agg(F.sum("contrib").alias("in_mass"))
        )
        rank = base.join(
            contrib, base.src == contrib.dst, "left"
        ).select(
            "src",
            F.round(
                F.col("base")
                + F.lit(damping)
                * F.coalesce(F.col("in_mass").cast("double"), F.lit(0.0)),
                _SCALE,
            ).alias("rank"),
        )
    return base.join(rank, on="src").select(
        F.col("src").alias("doc_id"), "degree", "is_seed", "rank"
    )


def personalized_pagerank_sql(pairs_sql: str, seeds_sql: str) -> str:
    """DuckDB twin of :func:`personalized_pagerank` — unrolled CTE
    chain; ``seeds_sql`` must yield a doc_id column (intersected with
    the vertex set, as the operator does)."""
    s = _SCALE
    ctes = [
        f"pairs AS ({pairs_sql})",
        "bi AS (SELECT doc_a AS src, doc_b AS dst FROM pairs"
        " UNION SELECT doc_b, doc_a FROM pairs)",
        "deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS degree"
        " FROM bi GROUP BY src)",
        f"seedset AS (SELECT doc_id AS src FROM ({seeds_sql})"
        " INTERSECT SELECT src FROM deg)",
        "ns AS (SELECT COUNT(*) AS k FROM seedset)",
        # ns.k > 0 matches the operator's empty-seed contract: an empty
        # effective seed set yields ZERO rows, not every vertex at rank
        # 0 (advisor round-11 operator/oracle divergence; also keeps
        # the 1/ns.k teleport term division-safe).
        "base AS (SELECT deg.src, deg.degree,"
        " seedset.src IS NOT NULL AS is_seed,"
        " CASE WHEN seedset.src IS NOT NULL"
        f" THEN ROUND((1.0 - {DAMPING}) / ns.k, {s}) ELSE 0.0 END AS b"
        " FROM deg LEFT JOIN seedset ON deg.src = seedset.src, ns"
        " WHERE ns.k > 0)",
        "r0 AS (SELECT src, b AS rank FROM base)",
    ]
    prev = "r0"
    for i in range(1, ITERATIONS + 1):
        ctes.extend(
            [
                f"c{i} AS (SELECT bi.dst AS src, "
                f"CAST(SUM(CAST(ROUND({prev}.rank / deg.degree, {s}) "
                f"AS DECIMAL(20,{s}))) AS DOUBLE) AS in_mass "
                f"FROM bi JOIN {prev} ON bi.src = {prev}.src "
                "JOIN deg ON bi.src = deg.src GROUP BY bi.dst)",
                f"r{i} AS (SELECT base.src, "
                f"ROUND(base.b + {DAMPING} * COALESCE(c{i}.in_mass, 0.0), {s})"
                f" AS rank FROM base LEFT JOIN c{i} ON base.src = c{i}.src)",
            ]
        )
        prev = f"r{i}"
    return (
        "WITH " + ",\n".join(ctes) + "\nSELECT base.src AS doc_id,"
        f" base.degree, base.is_seed, {prev}.rank"
        f" FROM base JOIN {prev} ON base.src = {prev}.src"
    )
