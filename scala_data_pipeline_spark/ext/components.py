"""Connected components over candidate-pair edges — the transitivity
step that turns near-dup PAIRS into dedup CLUSTERS (keep one document
per component). Standard tail of a MinHash/SimHash dedup pipeline.

One function, two paths, chosen by the size of the bidirectional edge
list:

- At or below ``SMALL_GRAPH_EDGES`` edges the list is collected and
  solved by union-find on the driver (:func:`_solve_small_graph`). The
  post-LSH pair graph is edges-bounded by the capped pair generators,
  so every fixture takes this path.
- Above the bound, min-label propagation: each vertex starts labeled
  with its own id; every round each vertex takes the min of its label
  and its neighbors' labels; fixpoint = every vertex carries its
  component's minimum id. Rounds needed = graph diameter, which for
  near-dup graphs is small (clusters are cliques or star fragments from
  the capped pair generators — see dedup.lsh_candidate_pairs). Each
  round is one join + one aggregation on the edge list; the driver only
  evaluates the convergence probe, never the data.

There is no large-star/small-star (O(log n) rounds) path: on a 10×
dense near-dup graph (scripts/scale_smoke_pairs.py 10, 285,599 pairs,
4 cores) star contraction ran 61 jobs to propagation's 34, and was
slower in each of 3 paired runs (19.5–32.2 s against 12.1–23.3 s),
with identical labels. A graph whose diameter exceeds ``MAX_ROUNDS``
raises :class:`ComponentsNotConverged` rather than returning split
clusters.

Propagation needs numeric ids (every caller's are bigint): its
convergence probe sums the labels.

Oracle: a DuckDB recursive CTE computes min-reachable-id per vertex —
exponential-closure semantics that agree with the fixpoint label.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

from ..session import local_frame


class ComponentsNotConverged(RuntimeError):
    """Raised when min-label propagation exhausts MAX_ROUNDS without
    reaching a fixpoint: labels are still moving, so the returned
    clustering would silently split long-diameter components and
    downstream dedup would keep multiple copies of the same near-dup
    group."""


# Bidirectional-edge count at or below which the component graph is
# solved in one pass on the driver instead of by iterative rounds. At
# 200k rows × two ids this is a few MB of driver memory — far below the
# other documented bounded-driver sets' ceilings — while each avoided
# iteration round costs 3 jobs (join + checkpoint + probe).
SMALL_GRAPH_EDGES = 200_000

# Propagation rounds after the fused first round before
# ComponentsNotConverged is raised.
MAX_ROUNDS = 25


def _solve_small_graph(edges: DataFrame) -> DataFrame:
    """Exact union-find over a collected (bounded) edge list.

    The post-LSH component graph is EDGES-bounded, not corpus-bounded —
    the capped pair generators emit at most cap·buckets edges, and
    after banding most corpora yield a graph orders of magnitude
    smaller than the document count. When that graph fits the
    SMALL_GRAPH_EDGES bound, 10+ driver-scheduled iteration jobs
    (join + localCheckpoint + convergence probe per round) cost far
    more than one bounded collect — the same driver-side-scalar
    pattern as the dynamic pivot value list, with the same documented
    bound. Labels are the component minimum, bit-identical to the
    propagation fixpoint and the recursive-CTE oracle, and independent
    of edge order (so of partitioning)."""
    rows = edges.collect()
    parent: dict = {}

    def find(x):
        root = x
        while parent.get(root, root) != root:
            root = parent[root]
        while parent.get(x, x) != x:  # path compression
            parent[x], x = root, parent[x]
        return root

    for r in rows:
        ra, rb = find(r["src"]), find(r["dst"])
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    vertices = {v for r in rows for v in (r["src"], r["dst"])}
    # Union-by-min makes find(v) ITSELF the component minimum: every
    # vertex starts as its own root and unions always attach the larger
    # root under the smaller, so no separate min pass is needed.
    labels = sorted((v, find(v)) for v in vertices)
    id_type = edges.schema["src"].dataType
    schema = StructType(
        [
            StructField("doc_id", id_type, nullable=False),
            StructField("cluster_id", id_type, nullable=False),
        ]
    )
    return local_frame(edges.sparkSession, labels, schema)


def _label_sum(frame: DataFrame):
    # Min-label propagation only ever DECREASES labels, so the label
    # sum is strictly monotone while anything moves: sum unchanged ⟺
    # fixpoint. This convergence probe is one aggregate over the
    # checkpointed frame — the join-and-count alternative costs a
    # full extra join per round. decimal(38,0) keeps the sum exact
    # (no float drift, no bigint overflow at cluster scale).
    return frame.agg(F.sum(F.col("label").cast("decimal(38,0)"))).first()[0]


def connected_components(
    pairs: DataFrame, a_col: str = "doc_a", b_col: str = "doc_b"
) -> DataFrame:
    """(doc_id, cluster_id) for every vertex appearing in ``pairs``;
    ``cluster_id`` = min doc_id of the vertex's component.

    Raises ComponentsNotConverged if propagation has not reached a
    fixpoint after MAX_ROUNDS rounds."""
    edges = (
        pairs.select(F.col(a_col).alias("src"), F.col(b_col).alias("dst"))
        .union(pairs.select(F.col(b_col).alias("src"), F.col(a_col).alias("dst")))
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    try:
        # One job over the persisted edge list; the collect in the
        # driver solve then reads the cache rather than re-deriving the
        # pair pipeline.
        if edges.count() <= SMALL_GRAPH_EDGES:
            return _solve_small_graph(edges)
        labels = (
            # Fused first round: the identity labeling's round 1 reduces
            # to min(v, min(neighbors)) — one groupBy over the edge list,
            # no join and no separate identity materialization (clique
            # and star components, the common near-dup shape, then need
            # only the confirming round).
            edges.groupBy("src")
            .agg(F.min("dst").alias("mn"))
            .select(F.col("src").alias("v"), F.least("mn", "src").alias("label"))
            # localCheckpoint (not persist): each round's plan must START
            # from materialized data, or the lineage nests one full copy
            # of itself per iteration and the driver dies planning an
            # exponentially-growing tree. Production long-job twin:
            # reliable checkpoint() to the checkpoint dir (survives
            # executor loss).
            .localCheckpoint(eager=True)
        )
        prev = _label_sum(labels)
        for _ in range(MAX_ROUNDS):
            nbr = edges.join(labels, edges["dst"] == labels["v"]).select(
                F.col("src").alias("v"), "label"
            )
            labels = (
                labels.union(nbr)
                .groupBy("v")
                .agg(F.min("label").alias("label"))
                .localCheckpoint(eager=True)
            )
            cur = _label_sum(labels)
            if cur == prev:
                return labels.select(
                    F.col("v").alias("doc_id"), F.col("label").alias("cluster_id")
                )
            prev = cur
        raise ComponentsNotConverged(
            f"connected_components: no fixpoint after {MAX_ROUNDS} rounds "
            "(labels still moving) — component diameter exceeds MAX_ROUNDS"
        )
    finally:
        edges.unpersist()


def connected_components_sql(pairs_sql: str) -> str:
    """DuckDB twin over the pair query ``pairs_sql`` (must yield columns
    doc_a, doc_b)."""
    return f"""
WITH RECURSIVE pairs AS (
  {pairs_sql}
), bi AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION
  SELECT doc_b, doc_a FROM pairs
), walk AS (
  SELECT src AS v, src AS r FROM bi
  UNION
  SELECT e.dst AS v, w.r FROM walk w JOIN bi e ON e.src = w.v
)
SELECT v AS doc_id, MIN(r) AS cluster_id FROM walk GROUP BY v
"""
