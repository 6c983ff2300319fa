"""HDR-histogram quantile sketch (Gene Tene's HdrHistogram design:
power-of-two exponent buckets with fixed-width linear sub-buckets),
built entirely from INTEGER arithmetic so — like the count-min sketch
(ext/countmin.py) and unlike the floating-log DDSketch — the DuckDB
twin replays the identical bucketing and the sketch is oracle-HASH
-checked, not rows-only.

Bucketing of a positive cent value ``v`` (BIGINT):

    e   = bit_length(v) - 1          -- floor(log2 v), via LENGTH(BIN(v))
    s   = max(e - M, 0)              -- sub-bucket shift, M = 5
    sub = v >> s                     -- 2^M linear sub-buckets per octave

``(e, sub)`` keys at most ``(64 - M) * 2^M`` buckets REGARDLESS of
corpus size; counts are additive longs, so partial histograms from any
partitioning merge by cell-wise addition (the mergeable-summaries
property the rollup/KS/count-min stores share). A quantile estimate is
the integer midpoint of the first bucket whose cumulative count
reaches ``ceil(q * N)`` — relative error bounded by the sub-bucket
width, ``2^-M`` (~3.1 % at M=5), which tests/test_sketches.py asserts
against the exact percentile.

Scale shape: ONE map-side-combinable groupBy to the bounded bucket
grain; the quantile lookup windows over that bounded grain (never the
corpus) and joins a handful of probe quantiles against it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import local_frame

HDR_SUB_BITS = 5  # 32 linear sub-buckets per octave -> <= 2^-5 rel err
DEFAULT_QS = (0.5, 0.9, 0.99, 0.999)


def hdr_histogram(df: DataFrame, value_col: str) -> DataFrame:
    """(e, sub, cnt) bucket table over positive ``value_col`` dollars
    (cent-quantized exactly as the oracle does)."""
    cents = F.expr(
        f"CAST(ROUND({value_col} * 100) AS BIGINT)"
    ).alias("v")
    buckets = (
        df.where(F.col(value_col) > 0)
        .select(cents)
        .select(
            "v",
            F.expr("LENGTH(BIN(v)) - 1").cast("int").alias("e"),
        )
        .select(
            F.col("e"),
            F.expr(
                f"shiftright(v, GREATEST(e - {HDR_SUB_BITS}, 0))"
            ).alias("sub"),
        )
    )
    return buckets.groupBy("e", "sub").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )


def hdr_quantiles(hist: DataFrame) -> DataFrame:
    """Quantile estimates from the bucket table: per probe q, the
    integer-midpoint of the first bucket (in (e, sub) order) whose
    cumulative count reaches ceil(q*N). Windows run over the BOUNDED
    bucket grain only."""
    from pyspark.sql import Window

    spark = hist.sparkSession
    w_cum = Window.orderBy("e", "sub").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = hist.select(
        "e",
        "sub",
        F.sum("cnt").over(w_cum).cast("long").alias("cum"),
        F.sum("cnt").over(
            Window.partitionBy()
        ).cast("long").alias("total"),
    )
    probes = local_frame(spark, [(q,) for q in DEFAULT_QS], "q double")
    # first qualifying bucket = min of the packed (e, sub) key — the
    # packing keeps the argmin a plain long MIN in both engines
    hit = (
        cum.join(
            F.broadcast(probes),
            F.col("cum") >= F.ceil(F.col("q") * F.col("total")),
        )
        .groupBy("q")
        .agg(
            F.min(
                F.expr("shiftleft(CAST(e AS BIGINT), 32) + sub")
            ).alias("k")
        )
        .select(
            "q",
            F.expr("shiftright(k, 32)").cast("int").alias("e"),
            F.expr("k - shiftleft(shiftright(k, 32), 32)").alias("sub"),
        )
    )
    return hit.select(
        "q",
        F.expr(
            f"(shiftleft(sub, GREATEST(e - {HDR_SUB_BITS}, 0))"
            f" + shiftleft(sub + 1, GREATEST(e - {HDR_SUB_BITS}, 0)) - 1)"
            " div 2"
        ).cast("long").alias("est_cents"),
    )


def hdr_quantiles_sql() -> str:
    """DuckDB twin: identical integer bucketing, cumulative lookup and
    midpoint arithmetic."""
    m = HDR_SUB_BITS
    probes = ", ".join(f"({q!r})" for q in DEFAULT_QS)
    return f"""
WITH cents AS (
  SELECT CAST(ROUND((value) * 100) AS BIGINT) AS v
  FROM events WHERE (value) > 0
), keyed AS (
  SELECT v, CAST(LENGTH(BIN(v)) - 1 AS INTEGER) AS e FROM cents
), hist AS (
  SELECT e, v >> GREATEST(e - {m}, 0) AS sub,
         CAST(COUNT(*) AS BIGINT) AS cnt
  FROM keyed GROUP BY 1, 2
), cum AS (
  SELECT e, sub,
         CAST(SUM(cnt) OVER (ORDER BY e, sub
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS cum,
         CAST(SUM(cnt) OVER () AS BIGINT) AS total
  FROM hist
), probes(q) AS (VALUES {probes}),
hit AS (
  SELECT q, MIN((CAST(e AS BIGINT) << 32) + sub) AS k
  FROM cum JOIN probes ON cum >= CEIL(q * total)
  GROUP BY q
), best AS (
  SELECT q, CAST(k >> 32 AS INTEGER) AS e,
         k - ((k >> 32) << 32) AS sub
  FROM hit
)
SELECT q,
       ((sub << GREATEST(e - {m}, 0))
        + ((sub + 1) << GREATEST(e - {m}, 0)) - 1) // 2 AS est_cents
FROM best
"""
