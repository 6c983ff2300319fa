"""Count-min sketch as a DataFrame construction (Cormode & Muthukrishnan,
"An improved data stream summary: the count-min sketch and its
applications", J. Algorithms 2005).

The sketch IS a tiny (depth × width)-row count table: each input key
increments one slot per depth row, slot = md5-derived hash mod width.
Point estimate = min over depths of the probed slots — never an
underestimate, and ≤ true + (e/width)·N with probability 1-(1/2)^depth.

Spark shape: one explode (depth rows per input) + one map-side-
combinable groupBy to depth·width rows — the sketch table is 1,024
rows here REGARDLESS of corpus size, and partial sketches from any
partitioning merge by cell-wise addition (associative longs), the
mergeable-summaries property the rollup/fingerprint/KS partial stores
share. Estimation broadcast-joins the tiny sketch. Unlike the
SpaceSaving summaries (ext/heavyhitters.py) the construction is fully
deterministic — the DuckDB twin replays the identical md5 slot
arithmetic, so this sketch is oracle-HASH-checked, not rows-only.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .util import hex_int, hex_int_sql, keyed_md5

CM_DEPTH = 4
CM_WIDTH = 256


def _slot(depth: int, key_col: str) -> Column:
    """Row-``depth`` hash slot: 8 hex digits of the key's md5 mod
    width, seeded per depth by the '{d}:' salt."""
    return hex_int(keyed_md5(key_col, f"{depth}:"), 8) % CM_WIDTH


def countmin_sketch(df: DataFrame, key_col: str) -> DataFrame:
    """(depth, slot, cnt) sketch table over the key column."""
    cells = df.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(d).alias("depth"),
                        _slot(d, key_col).alias("slot"),
                    )
                    for d in range(CM_DEPTH)
                ]
            )
        ).alias("c")
    ).select("c.depth", "c.slot")
    return cells.groupBy("depth", "slot").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )


def countmin_estimates(
    sketch: DataFrame, probes: DataFrame, key_col: str
) -> DataFrame:
    """Point estimates for a probe-key frame: min over depths of the
    probed cells (an unhashed cell holds 0). The sketch side is tiny
    (depth·width rows) and broadcasts."""
    probe_cells = probes.select(
        F.col(key_col),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(d).alias("depth"),
                        _slot(d, key_col).alias("slot"),
                    )
                    for d in range(CM_DEPTH)
                ]
            )
        ).alias("c"),
    ).select(key_col, "c.depth", "c.slot")
    return (
        probe_cells.join(F.broadcast(sketch), on=["depth", "slot"], how="left")
        .groupBy(key_col)
        .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0))).alias("cm_est"))
    )


def countmin_sql(
    key_expr: str, table: str, probe_lo: int, probe_hi: int
) -> str:
    """DuckDB twin: the same slot arithmetic, probes = integer keys
    in [probe_lo, probe_hi]."""
    depth_list = ", ".join(str(d) for d in range(CM_DEPTH))

    def slot(d_expr: str, key: str) -> str:
        digest = f"md5(CAST({d_expr} AS VARCHAR) || ':' || {key})"
        return f"{hex_int_sql(digest, 8)} % {CM_WIDTH}"

    return f"""
WITH cells AS (
  SELECT d.depth, {slot('d.depth', f'CAST({key_expr} AS VARCHAR)')} AS slot,
         CAST(COUNT(*) AS BIGINT) AS cnt
  FROM {table}, (SELECT unnest([{depth_list}]) AS depth) d
  GROUP BY 1, 2
), probes AS (
  SELECT r.range AS k, d.depth,
         {slot('d.depth', 'CAST(r.range AS VARCHAR)')} AS slot
  FROM range({probe_lo}, {probe_hi + 1}) r,
       (SELECT unnest([{depth_list}]) AS depth) d
)
SELECT p.k, CAST(MIN(COALESCE(c.cnt, 0)) AS BIGINT) AS cm_est
FROM probes p LEFT JOIN cells c ON c.depth = p.depth AND c.slot = p.slot
GROUP BY p.k
"""
