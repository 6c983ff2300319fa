"""Distributed exact ranking analytics. Every query here runs on the
range-partitioned exact-rank machinery (operators/ranking.py) instead of a
single-partition global window: percentile ranks, grouped deciles,
per-brand ABC/Pareto classes, robust statistics (MAD anomalies, CUSUM,
Theil-Sen), and the quantity-weighted median. Beyond-reference surface
(SURVEY.md §6)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources import load_table

QUERIES: dict = {}
ORACLES: dict = {}
EXTRA_QUERIES: dict = {}
EXTRA_ORACLES: dict = {}

# ---------------------------------------------------------------------------
# Distributed exact percentile rank
# ---------------------------------------------------------------------------


def spend_percentile_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every customer's EXACT spend percentile — the per-entity twin of
    lorenz_customer_spend's decile view (feature stores want the raw
    percentile as a model feature, not the decile bucket). percent_rank
    = (rank - 1) / (n - 1) over the total order (spend, cust_key). The
    customer grain is corpus-proportional, so the rank comes from the
    two-pass range-partitioned ranking (operators/ranking.py); the
    oracle computes the same thing with a one-task window — a
    cross-algorithm check, not a replay."""
    from ..operators.ranking import with_rank

    orders = load_table(spark, sf_dir, "orders")
    per_cust = orders.groupBy("o_custkey").agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,4)")).alias("spend")
    )
    ranked, parts = with_rank(
        per_cust, [], ["spend", "o_custkey"], rank_col="i"
    )
    n = sum(p["cnt"] for p in parts)
    denom = float(max(n - 1, 1))
    return ranked.select(
        F.col("o_custkey").cast("long").alias("cust_key"),
        F.col("spend").cast("double").alias("spend"),
        F.round((F.col("i") - 1).cast("double") / denom, 6).alias(
            "pct_rank"
        ),
    )


SPEND_PERCENTILE_ORACLE = """
WITH per_cust AS (
  SELECT o_custkey AS cust_key,
         SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS spend
  FROM orders GROUP BY o_custkey
)
SELECT CAST(cust_key AS BIGINT) AS cust_key,
       CAST(spend AS DOUBLE) AS spend,
       ROUND(CAST(ROW_NUMBER() OVER (ORDER BY spend, cust_key) - 1
                  AS DOUBLE)
             / GREATEST(COUNT(*) OVER () - 1, 1), 6) AS pct_rank
FROM per_cust
"""

EXTRA_QUERIES["spend_percentile_customers"] = spend_percentile_customers
EXTRA_ORACLES["spend_percentile_customers"] = SPEND_PERCENTILE_ORACLE


# ---------------------------------------------------------------------------
# Grouped exact deciles: few huge groups
# ---------------------------------------------------------------------------


def segment_spend_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-market-segment spend deciles: Lorenz's decile view computed
    WITHIN each of the 5 segments. The naive plan —
    ``Window.partitionBy(segment)`` — collapses 10^8 customers into 5
    tasks at 100 TB (few-huge-groups, the grouped scale-killer); this
    runs on operators/ranking.py::with_rank instead:
    range-partition on (segment, spend, key), bounded (partition x
    segment) offset scan, partition-local windows, exact ntile replay
    from the per-group rank + group size. The final share window runs
    on the bounded segment x decile frame (50 rows)."""
    from ..operators.ranking import ntile_from_rank, with_rank

    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    per_cust = (
        orders.join(
            customer.select(
                F.col("c_custkey").alias("o_custkey"),
                F.col("c_mktsegment").alias("segment"),
            ),
            on="o_custkey",
        )
        .groupBy("segment", "o_custkey")
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,4)")).alias(
                "spend"
            )
        )
    )
    ranked, _ = with_rank(
        per_cust, ["segment"], ["spend", "o_custkey"], rank_col="i"
    )
    deciled = ranked.withColumn(
        "decile", ntile_from_rank(F.col("i"), F.col("n_in_group"), 10)
    )
    per_dec = deciled.groupBy("segment", "decile").agg(
        F.count(F.lit(1)).cast("long").alias("n_customers"),
        F.sum("spend").alias("spend"),
    )
    w_seg = Window.partitionBy("segment")  # bounded: 5 x 10 rows
    return per_dec.select(
        "segment",
        F.col("decile").cast("int").alias("decile"),
        "n_customers",
        F.round(
            F.col("spend").cast("double")
            / F.sum("spend").over(w_seg).cast("double"),
            6,
        ).alias("spend_share"),
    )


SEGMENT_DECILES_ORACLE = """
WITH per_cust AS (
  SELECT c_mktsegment AS segment, o_custkey AS cust_key,
         SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS spend
  FROM orders JOIN customer ON c_custkey = o_custkey
  GROUP BY c_mktsegment, o_custkey
), ranked AS (
  SELECT segment, spend,
         ntile(10) OVER (PARTITION BY segment
                         ORDER BY spend, cust_key) AS decile
  FROM per_cust
), per_dec AS (
  SELECT segment, decile, CAST(COUNT(*) AS BIGINT) AS n_customers,
         SUM(spend) AS spend
  FROM ranked GROUP BY segment, decile
)
SELECT segment, CAST(decile AS INTEGER) AS decile, n_customers,
       ROUND(CAST(spend AS DOUBLE)
             / CAST(SUM(spend) OVER (PARTITION BY segment) AS DOUBLE),
             6) AS spend_share
FROM per_dec
"""

QUERIES["segment_spend_deciles"] = segment_spend_deciles
ORACLES["segment_spend_deciles"] = SEGMENT_DECILES_ORACLE


# ---------------------------------------------------------------------------
# Per-brand ABC classes: grouped Pareto via grouped prefix sums
# ---------------------------------------------------------------------------


def brand_abc_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC inventory classes WITHIN each of the 25 brands — abc_parts'
    grouped twin (category managers read per-brand Paretos, not the
    global one). The brand axis is few-huge-groups, so the per-brand
    revenue running sums come from with_rank's grouped prefix sums
    (bounded (partition x brand) offset scan, partition-local windows),
    never a 25-task Window.partitionBy(brand) over the
    corpus-proportional part grain.
    """
    from ..operators.ranking import with_rank

    lineitem = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    per_part = (
        lineitem.join(
            part.select(
                F.col("p_partkey").alias("l_partkey"), "p_brand"
            ),
            on="l_partkey",
        )
        .groupBy("p_brand", "l_partkey")
        .agg(
            F.sum(
                (
                    F.col("l_extendedprice") * (1 - F.col("l_discount"))
                ).cast("decimal(18,4)")
            ).alias("rev")
        )
    )
    per_part = per_part.withColumn("_negrev", -F.col("rev"))
    ranked, _ = with_rank(
        per_part,
        ["p_brand"],
        ["_negrev", "l_partkey"],
        rank_col="i",
        cum_cols=["rev"],
    )
    share = F.col("cum_rev").cast("double") / F.col("total_rev").cast(
        "double"
    )
    klass = (
        F.when(share <= 0.80, "A").when(share <= 0.95, "B").otherwise("C")
    )
    return ranked.select(
        "p_brand",
        F.col("l_partkey").cast("long").alias("partkey"),
        F.col("rev").cast("double").alias("revenue"),
        F.round(share, 6).alias("cum_share"),
        klass.alias("abc_class"),
    )


BRAND_ABC_ORACLE = """
WITH per_part AS (
  SELECT p_brand, l_partkey,
         SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4)))
           AS rev
  FROM lineitem JOIN part ON p_partkey = l_partkey
  GROUP BY p_brand, l_partkey
), ranked AS (
  SELECT p_brand, l_partkey, rev,
         CAST(SUM(rev) OVER (PARTITION BY p_brand
              ORDER BY rev DESC, l_partkey ASC
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
           / CAST(SUM(rev) OVER (PARTITION BY p_brand) AS DOUBLE) AS share
  FROM per_part
)
SELECT p_brand,
       CAST(l_partkey AS BIGINT) AS partkey,
       CAST(rev AS DOUBLE) AS revenue,
       ROUND(share, 6) AS cum_share,
       CASE WHEN share <= 0.80 THEN 'A'
            WHEN share <= 0.95 THEN 'B'
            ELSE 'C' END AS abc_class
FROM ranked
"""

EXTRA_QUERIES["brand_abc_parts"] = brand_abc_parts
EXTRA_ORACLES["brand_abc_parts"] = BRAND_ABC_ORACLE


# ---------------------------------------------------------------------------
# Robust statistics: MAD anomalies, CUSUM changepoint, Theil-Sen
# ---------------------------------------------------------------------------


def mad_anomaly_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier days by modified z-score (Iglewicz-Hoaglin
    0.6745·(x-med)/MAD, cut at 3.5) — the median-based complement to
    anomaly_daily_revenue's rolling mean/std, immune to the outliers
    it hunts. Two bounded scalar aggregates over the DAY grain
    broadcast back onto it (the documented tiny-broadcast pattern)."""
    orders = load_table(spark, sf_dir, "orders")
    day = F.datediff(F.col("o_orderdate").cast("date"), F.lit("1970-01-01"))
    daily = orders.groupBy(day.alias("day")).agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,4)"))
        .cast("double")
        .alias("rev")
    )
    med_row = daily.agg(
        F.expr("percentile(rev, 0.5)").alias("med")
    )
    with_med = daily.crossJoin(F.broadcast(med_row))
    mad_row = with_med.agg(
        F.expr("percentile(abs(rev - med), 0.5)").alias("mad"),
        F.first("med").alias("med"),
    )
    out = daily.crossJoin(F.broadcast(mad_row))
    # a constant series has MAD 0 — emit null, not a divide error
    # (ANSI-safe); NULLIF twin in the oracle
    rz = (
        F.lit(0.6745)
        * (F.col("rev") - F.col("med"))
        / F.nullif(F.col("mad"), F.lit(0.0))
    )
    return out.select(
        F.col("day").cast("long").alias("day"),
        F.round("rev", 4).alias("rev"),
        F.round(rz, 6).alias("robust_z"),
        (F.abs(rz) > 3.5).alias("is_outlier"),
    )


MAD_ANOMALY_ORACLE = """
WITH daily AS (
  SELECT CAST(datediff('day', DATE '1970-01-01',
              CAST(o_orderdate AS DATE)) AS BIGINT) AS day,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS rev
  FROM orders GROUP BY 1
), med AS (
  SELECT quantile_cont(rev, 0.5) AS med FROM daily
), mad AS (
  SELECT quantile_cont(abs(rev - med), 0.5) AS mad, ANY_VALUE(med) AS med
  FROM daily, med
)
SELECT day,
       ROUND(rev, 4) AS rev,
       ROUND(0.6745 * (rev - med) / NULLIF(mad, 0.0), 6) AS robust_z,
       abs(0.6745 * (rev - med) / NULLIF(mad, 0.0)) > 3.5 AS is_outlier
FROM daily, mad
"""

EXTRA_QUERIES["mad_anomaly_revenue"] = mad_anomaly_revenue
EXTRA_ORACLES["mad_anomaly_revenue"] = MAD_ANOMALY_ORACLE


def cusum_revenue_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM level-shift detector over daily revenue: cumulative sum
    of mean-centered revenues; the day where |CUSUM| peaks is the
    most likely changepoint, and the before/after means quantify the
    shift. All windows run over the bounded DAY grain."""
    orders = load_table(spark, sf_dir, "orders")
    day = F.datediff(F.col("o_orderdate").cast("date"), F.lit("1970-01-01"))
    daily = orders.groupBy(day.alias("day")).agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,4)"))
        .cast("double")
        .alias("rev")
    )
    mean_row = daily.agg(
        (
            F.sum(F.round("rev", 4).cast("decimal(18,4)")).cast("double")
            / F.count(F.lit(1))
        ).alias("mu")
    )
    w_cum = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )  # bounded DAY grain
    cs = daily.crossJoin(F.broadcast(mean_row)).select(
        "day",
        "rev",
        "mu",
        F.sum(
            F.round(F.col("rev") - F.col("mu"), 4).cast("decimal(18,4)")
        ).over(w_cum).cast("double").alias("cusum"),
    )
    best = cs.orderBy(F.abs(F.col("cusum")).desc(), F.col("day").asc()).limit(1)
    after = cs.join(
        F.broadcast(best.select(F.col("day").alias("cp_day"))),
        F.col("day") > F.col("cp_day"),
    )
    before = cs.join(
        F.broadcast(best.select(F.col("day").alias("cp_day"))),
        F.col("day") <= F.col("cp_day"),
    )

    def mean_of(df_, alias):
        return df_.agg(
            (
                F.sum(F.round("rev", 4).cast("decimal(18,4)")).cast(
                    "double"
                )
                / F.count(F.lit(1))
            ).alias(alias)
        )

    return (
        best.select(
            F.col("day").cast("long").alias("changepoint_day"),
            F.round("cusum", 4).alias("peak_cusum"),
        )
        .crossJoin(F.broadcast(mean_of(before, "mean_before")))
        .crossJoin(F.broadcast(mean_of(after, "mean_after")))
        .select(
            "changepoint_day",
            "peak_cusum",
            F.round("mean_before", 4).alias("mean_before"),
            F.round("mean_after", 4).alias("mean_after"),
        )
    )


CUSUM_ORACLE = """
WITH daily AS (
  SELECT CAST(datediff('day', DATE '1970-01-01',
              CAST(o_orderdate AS DATE)) AS BIGINT) AS day,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS rev
  FROM orders GROUP BY 1
), mu AS (
  SELECT CAST(SUM(CAST(ROUND(rev, 4) AS DECIMAL(18,4))) AS DOUBLE)
           / COUNT(*) AS mu
  FROM daily
), cs AS (
  SELECT day, rev,
         CAST(SUM(CAST(ROUND(rev - mu, 4) AS DECIMAL(18,4)))
              OVER (ORDER BY day
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS DOUBLE) AS cusum
  FROM daily, mu
), best AS (
  SELECT day AS changepoint_day, cusum
  FROM cs ORDER BY abs(cusum) DESC, day ASC LIMIT 1
)
SELECT b.changepoint_day,
       ROUND(b.cusum, 4) AS peak_cusum,
       ROUND((SELECT CAST(SUM(CAST(ROUND(rev, 4) AS DECIMAL(18,4)))
                     AS DOUBLE) / COUNT(*)
              FROM cs WHERE day <= b.changepoint_day), 4) AS mean_before,
       ROUND((SELECT CAST(SUM(CAST(ROUND(rev, 4) AS DECIMAL(18,4)))
                     AS DOUBLE) / COUNT(*)
              FROM cs WHERE day > b.changepoint_day), 4) AS mean_after
FROM best b
"""

EXTRA_QUERIES["cusum_revenue_shift"] = cusum_revenue_shift
EXTRA_ORACLES["cusum_revenue_shift"] = CUSUM_ORACLE


def theilsen_event_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen robust trend of daily event revenue: the median of
    all pairwise day-to-day slopes (breakdown point 29%, vs OLS's 0) —
    the slope estimate a noisy ops series deserves. The events corpus
    spans ~30 days, so the pairwise frame is ~435 rows from a bounded
    self-join of the DAY grain; the corpus itself is scanned once."""
    events = load_table(spark, sf_dir, "events")
    day = F.datediff(F.col("ts").cast("date"), F.lit("1970-01-01"))
    daily = events.groupBy(day.alias("day")).agg(
        F.sum(F.round("value", 2).cast("decimal(18,2)"))
        .cast("double")
        .alias("rev")
    )
    a = daily.select(F.col("day").alias("da"), F.col("rev").alias("ra"))
    b = daily.select(F.col("day").alias("db"), F.col("rev").alias("rb"))
    slopes = (
        a.join(F.broadcast(b), F.col("da") < F.col("db"))
        .select(
            (
                (F.col("rb") - F.col("ra"))
                / (F.col("db") - F.col("da")).cast("double")
            ).alias("slope")
        )
    )
    slope_row = slopes.agg(
        F.expr("percentile(slope, 0.5)").alias("slope")
    )
    inter = daily.crossJoin(F.broadcast(slope_row)).agg(
        F.expr("percentile(rev - slope * day, 0.5)").alias("intercept"),
        F.first("slope").alias("slope"),
        F.count(F.lit(1)).cast("long").alias("n_days"),
    )
    return inter.select(
        "n_days",
        F.round("slope", 6).alias("slope"),
        F.round("intercept", 4).alias("intercept"),
    )


THEILSEN_ORACLE = """
WITH daily AS (
  SELECT CAST(datediff('day', DATE '1970-01-01', CAST(ts AS DATE))
              AS BIGINT) AS day,
         CAST(SUM(CAST(ROUND(value, 2) AS DECIMAL(18,2))) AS DOUBLE)
           AS rev
  FROM events GROUP BY 1
), slopes AS (
  SELECT (b.rev - a.rev) / CAST(b.day - a.day AS DOUBLE) AS slope
  FROM daily a JOIN daily b ON a.day < b.day
), sl AS (
  SELECT quantile_cont(slope, 0.5) AS slope FROM slopes
)
SELECT CAST((SELECT COUNT(*) FROM daily) AS BIGINT) AS n_days,
       ROUND(ANY_VALUE(sl.slope), 6) AS slope,
       ROUND(quantile_cont(d.rev - sl.slope * d.day, 0.5), 4)
         AS intercept
FROM daily d, sl
"""

EXTRA_QUERIES["theilsen_event_trend"] = theilsen_event_trend
EXTRA_ORACLES["theilsen_event_trend"] = THEILSEN_ORACLE


def weighted_median_prices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact QUANTITY-WEIGHTED median price per return flag: the
    smallest price whose cumulative quantity weight reaches half the
    group's total (lower weighted median — the robust 'typical traded
    price' a mean would let outliers drag). Runs on
    operators/ranking.py::with_rank (3 huge groups — exactly
    the few-huge-groups case Window.partitionBy mishandles at scale);
    the half-total comparison is exact long arithmetic
    (2*cum >= total), no float boundary."""
    from ..operators.ranking import crossing_pids, with_rank

    li = load_table(spark, sf_dir, "lineitem")
    grain = li.groupBy(
        "l_returnflag", F.col("l_extendedprice").alias("price")
    ).agg(F.sum(F.col("l_quantity").cast("long")).alias("w"))
    ranked, parts = with_rank(
        grain, ["l_returnflag"], ["price"], rank_col="_i", cum_cols=["w"]
    )
    # Median partition pruning: 2*cum >= total over
    # integer weights first holds at weighted position ceil(total/2),
    # and min(price)/min(total_w) read only that first crossing row
    # (later partitions hold strictly larger prices and the same
    # total), so the final aggregation needs just the crossing range
    # partition per group — computed driver-side from the offset scan.
    totals: dict[tuple, int] = {}
    for prt in parts:
        totals[prt["group"]] = totals.get(prt["group"], 0) + int(
            prt["sum"]["w"]
        )
    keep = sorted(
        crossing_pids(
            parts, "w", {g: [(tw + 1) // 2] for g, tw in totals.items()}
        )
    )
    ranked = ranked.filter(F.col("_pid").isin(keep)).drop("_pid")
    return (
        ranked.filter(2 * F.col("cum_w") >= F.col("total_w"))
        .groupBy("l_returnflag")
        .agg(
            F.min("price").alias("weighted_median"),
            F.min("total_w").cast("long").alias("total_weight"),
        )
    )


WEIGHTED_MEDIAN_ORACLE = """
WITH grain AS (
  SELECT l_returnflag, l_extendedprice AS price,
         CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS w
  FROM lineitem GROUP BY 1, 2
), c AS (
  SELECT l_returnflag, price, w,
         SUM(w) OVER (PARTITION BY l_returnflag ORDER BY price) AS cumw,
         SUM(w) OVER (PARTITION BY l_returnflag) AS totw
  FROM grain
)
SELECT l_returnflag,
       MIN(price) AS weighted_median,
       CAST(MIN(totw) AS BIGINT) AS total_weight
FROM c WHERE 2 * cumw >= totw
GROUP BY l_returnflag
"""

QUERIES["weighted_median_prices"] = weighted_median_prices
ORACLES["weighted_median_prices"] = WEIGHTED_MEDIAN_ORACLE
