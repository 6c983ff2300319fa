"""Multi-granularity time rollups (continuous-aggregate pattern).

Hypertable-style rollup: aggregate raw events once at the finest
granularity (hour), then compute every coarser granularity (day, …)
from those partials instead of rescanning the raw table. At 100 TB the
raw scan + first aggregate is the job; the day-level rollup then runs
over ~24 rows per day per key — effectively free, and the hourly frame
is exactly what a materialized continuous aggregate would store.

Correctness of the reuse depends on the partials being *exactly*
mergeable: revenue partials stay DECIMAL (associative addition) until
the final emit, so sum-of-hourly-sums is bit-identical to a direct
daily aggregation under any partitioning — the same reproducibility
idiom as ``functions/numeric.dsum``. Only additive statistics (sums,
counts) are carried; non-mergeable ones (exact distincts, medians)
must be re-derived from raw data or replaced by mergeable sketches.

The reference aggregates at a single granularity only
(agg/agg.scala:58-63, 60-minute windows); multi-level reuse is a
training-pipeline/reporting extension.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Per-row rounding scale for money; matches dsum(…, 2) used by the
# revenue aggregates elsewhere.
_MONEY_SCALE = 2


def hourly_rollup(events: DataFrame) -> DataFrame:
    """Finest-granularity partial aggregate: one row per UTC hour.

    ``revenue`` is kept as DECIMAL so coarser rollups can merge
    partials exactly.
    """
    purchase_value = F.when(
        F.col("event_type") == "purchase", F.col("value")
    ).otherwise(F.lit(0.0))
    return events.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("bucket_hour")
    ).agg(
        F.sum(purchase_value.cast(f"decimal(18,{_MONEY_SCALE})")).alias(
            "revenue_partial"
        ),
        F.count("*").cast("long").alias("n_events"),
        F.count(
            F.when(F.col("event_type") == "purchase", F.lit(1))
        ).cast("long").alias("n_purchases"),
    )


def daily_from_hourly(hourly: DataFrame) -> DataFrame:
    """Merge hourly partials into the daily rollup. Decimal partial
    addition is associative, so this equals a direct daily aggregation
    of the raw events (asserted in tests/test_rollup.py)."""
    return (
        hourly.groupBy(
            F.date_trunc("day", F.col("bucket_hour")).alias("bucket_day")
        )
        .agg(
            F.sum("revenue_partial").cast("double").alias("revenue"),
            F.sum("n_events").cast("long").alias("n_events"),
            F.sum("n_purchases").cast("long").alias("n_purchases"),
            F.count("*").cast("long").alias("n_active_hours"),
        )
    )


def daily_rollup(events: DataFrame) -> DataFrame:
    """Raw events → hourly partials → daily rollup, one Catalyst plan."""
    return daily_from_hourly(hourly_rollup(events))


def daily_rollup_sql() -> str:
    """DuckDB twin: the identical two-level aggregation (hour partials
    merged into days) so the decimal semantics line up exactly."""
    s = _MONEY_SCALE
    return f"""
WITH hourly AS (
  SELECT date_trunc('hour', ts) AS bucket_hour,
         SUM(CAST(CASE WHEN event_type = 'purchase' THEN value ELSE 0.0 END
                  AS DECIMAL(18,{s}))) AS revenue_partial,
         COUNT(*) AS n_events,
         COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS n_purchases
  FROM events
  GROUP BY 1
)
SELECT date_trunc('day', bucket_hour) AS bucket_day,
       CAST(SUM(revenue_partial) AS DOUBLE) AS revenue,
       CAST(SUM(n_events) AS BIGINT) AS n_events,
       CAST(SUM(n_purchases) AS BIGINT) AS n_purchases,
       CAST(COUNT(*) AS BIGINT) AS n_active_hours
FROM hourly
GROUP BY 1
"""


def hourly_user_sketches(events: DataFrame) -> DataFrame:
    """Hourly HLL sketches of the distinct-user set (DataSketches HLL
    via ``hll_sketch_agg``). Unlike exact distincts, sketches are
    MERGEABLE — the non-additive statistic the decimal rollup cannot
    carry (see module docstring) becomes rollup-able as a sketch."""
    return events.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("bucket_hour")
    ).agg(F.hll_sketch_agg("user_id").alias("users_sketch"))


def daily_distinct_users(hourly_sketches: DataFrame) -> DataFrame:
    """Merge hourly sketches into daily distinct-user estimates.

    Estimate semantics: DataSketches HLL is EXACT while a set fits the
    sparse register file (~thousands at the default lgConfigK=12) and
    ~±1.6% beyond it — tests pin exactness at the driver's correctness
    scale and the error bound at bench scale. Rows-only registry entry:
    an approximate result has no value-hash twin by design.
    """
    return (
        hourly_sketches.groupBy(
            F.date_trunc("day", F.col("bucket_hour")).alias("bucket_day")
        )
        .agg(
            F.hll_sketch_estimate(F.hll_union_agg("users_sketch"))
            .cast("long")
            .alias("n_distinct_users_est"),
            F.count("*").cast("long").alias("n_active_hours"),
        )
    )
