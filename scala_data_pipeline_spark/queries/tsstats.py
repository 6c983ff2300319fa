"""Time-series anomaly detection, survival analysis, forensic DQ.

- **Rolling z-score anomalies** (`anomaly_daily_revenue`): daily
  revenue vs its trailing-28-day mean/std. The rolling moments come
  from DECIMAL partial sums (Σx, Σx²) over an integer-day RANGE frame,
  so every engine sees the identical exact sums; the mean/variance
  division happens once, in double, in the same expression shape on
  both sides — partitioning- and engine-invariant. Scale shape: one
  corpus-sized groupBy to the daily grain, then windows over DAYS
  (thousands of rows at 100 TB — negligible; partition by series key
  when there are many series).
- **Kaplan-Meier survival** (`survival_km_users`): user-retention
  curve with right-censoring (users still active near the corpus edge
  are censored, not dead — dropping them would bias retention down,
  the standard KM motivation). S(t) = Π_{tᵢ≤t} (1 - dᵢ/nᵢ) computed as
  exp(Σ ln(1-d/n)) — the log-sum form is a cumulative window over the
  handful of distinct lifetimes, identical in both engines. At-risk
  counts nᵢ fall out of one cumulative count window, no self-join.
  (Kaplan & Meier, "Nonparametric Estimation from Incomplete
  Observations", JASA 1958.)
- **Benford first-digit audit** (`benford_prices`): observed
  first-significant-digit distribution of order totals vs Benford's
  log10(1+1/d) expectation with per-digit chi-square contributions —
  the classic fabricated-data screen. One scan, one 9-row aggregate.

All three are single-pass / daily-grain plans; none shuffles the
corpus more than once. Beyond-reference surface (SURVEY.md §6).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources import load_table

QUERIES: dict = {}
ORACLES: dict = {}
EXTRA_QUERIES: dict = {}
EXTRA_ORACLES: dict = {}

ANOM_WINDOW_DAYS = 28
ANOM_Z = 2.5


def zscore_daily(daily: DataFrame) -> DataFrame:
    """Rolling z-score over a (day:long, rev:decimal) daily series —
    the shared core of the batch query below and the streaming
    continuous-aggregate read path (tests/test_anomaly_stream.py):
    because the moments come from exact decimal partials, a series
    maintained incrementally from micro-batch partials z-scores
    BIT-IDENTICALLY to one computed from the full history."""
    w = (
        Window.orderBy("day")
        .rangeBetween(-(ANOM_WINDOW_DAYS - 1), Window.currentRow)
    )
    n = F.count(F.lit(1)).over(w)
    s = F.sum("rev").over(w).cast("double")
    ss = (
        F.sum((F.col("rev") * F.col("rev")).cast("decimal(38,8)"))
        .over(w)
        .cast("double")
    )
    mean = s / n
    # sample variance from exact partial sums; guard the 1-row frame
    var = F.when(n > 1, (ss - s * s / n) / (n - 1)).otherwise(F.lit(0.0))
    z = F.when(
        var > 0, (F.col("rev").cast("double") - mean) / F.sqrt(var)
    ).otherwise(F.lit(0.0))
    return daily.select(
        F.col("day").cast("long").alias("day"),
        F.col("rev").cast("double").alias("revenue"),
        F.round(z, 4).alias("z28"),
        (F.abs(z) > ANOM_Z).alias("is_anomaly"),
    )


def anomaly_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    day = F.datediff(F.col("o_orderdate").cast("date"), F.lit("1970-01-01"))
    daily = orders.groupBy(day.alias("day")).agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,4)")).alias("rev")
    )
    return zscore_daily(daily)


ANOMALY_ORACLE = f"""
WITH daily AS (
  SELECT CAST(datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
              AS BIGINT) AS day,
         SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS rev
  FROM orders GROUP BY 1
), win AS (
  SELECT day, rev,
         COUNT(*) OVER w AS n,
         CAST(SUM(rev) OVER w AS DOUBLE) AS s,
         CAST(SUM(CAST(rev * rev AS DECIMAL(38,8))) OVER w AS DOUBLE) AS ss
  FROM daily
  WINDOW w AS (ORDER BY day RANGE BETWEEN {ANOM_WINDOW_DAYS - 1} PRECEDING
               AND CURRENT ROW)
)
SELECT day,
       CAST(rev AS DOUBLE) AS revenue,
       ROUND(CASE WHEN n > 1 AND (ss - s * s / n) / (n - 1) > 0
                  THEN (CAST(rev AS DOUBLE) - s / n)
                       / sqrt((ss - s * s / n) / (n - 1))
                  ELSE 0.0 END, 4) AS z28,
       CASE WHEN n > 1 AND (ss - s * s / n) / (n - 1) > 0
            THEN abs((CAST(rev AS DOUBLE) - s / n)
                     / sqrt((ss - s * s / n) / (n - 1))) > {ANOM_Z}
            ELSE FALSE END AS is_anomaly
FROM win
"""

KM_GAP_DAYS = 3  # inactivity gap (in active-day terms) that counts as churn


def survival_km_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier user-retention curve with churn-gap death times.

    A user "dies" (churns) at the last active day before their FIRST
    inactivity gap of ``KM_GAP_DAYS`` or more between consecutive
    active days — or at their last active day when the corpus ends
    ``KM_GAP_DAYS``+ after it (trailing silence is the same gap,
    truncated by observation). Users still active within the gap
    horizon of the corpus edge are right-censored. Lifetime = days
    from first active day to death/censoring. One row per distinct
    death time: at-risk count, deaths, and the KM survival estimate.

    Death is gap-churn, not edge-censoring: with ~67 events/user over
    30 days no user's last event ever trails the corpus max by the
    horizon, so an edge-censoring definition gives an EMPTY curve at
    every SF. Gap-churn is the standard engagement-KM formulation and
    yields a deaths/censored mix at every SF; the constant is replayed
    into the DuckDB oracle below via the f-string.

    Scale shape: one distinct to the (user, day) grain, one lag window
    partitioned BY USER (bounded per-partition by a user's active
    days), one per-user aggregate; the curve itself runs on the
    day-valued lifetime grain — structurally bounded, per the repo's
    bounded-grain global-window convention.
    """
    events = load_table(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull()
    )
    days = events.select(
        "user_id", F.col("ts").cast("date").alias("d")
    ).distinct()
    w_seq = Window.partitionBy("user_id").orderBy("d")
    seq = days.withColumn("next_d", F.lead("d").over(w_seq))
    per_user = seq.groupBy("user_id").agg(
        F.min(
            F.when(
                F.datediff("next_d", "d") >= KM_GAP_DAYS, F.col("d")
            )
        ).alias("churn_d"),
        F.min("d").alias("first_d"),
        F.max("d").alias("last_d"),
    )
    horizon = days.agg(F.max("d").alias("corpus_max"))
    subjects = per_user.crossJoin(F.broadcast(horizon)).select(
        F.when(
            F.col("churn_d").isNotNull(),
            F.datediff("churn_d", "first_d"),
        )
        .otherwise(F.datediff("last_d", "first_d"))
        .alias("lifetime"),
        (
            F.col("churn_d").isNotNull()
            | (F.datediff("corpus_max", "last_d") >= KM_GAP_DAYS)
        ).alias("died"),
    )
    # one row per distinct lifetime: deaths and total leavers
    grouped = subjects.groupBy("lifetime").agg(
        F.sum(F.when(F.col("died"), 1).otherwise(0)).alias("deaths"),
        F.count(F.lit(1)).alias("leavers"),
    )
    w_prev = Window.orderBy("lifetime").rowsBetween(
        Window.unboundedPreceding, -1
    )
    # at-risk = everyone minus those who left at strictly earlier times;
    # the total comes from a window too, keeping the query single-pass
    at_risk = F.sum("leavers").over(Window.partitionBy()) - F.coalesce(
        F.sum("leavers").over(w_prev), F.lit(0)
    )
    w_cum = Window.orderBy("lifetime").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    # Terminal-step guard: when deaths == at_risk (the longest-lived
    # subject dies uncensored — a perfectly normal KM input) the factor
    # 1 - d/n is 0 and log(0) would be NULL, which the cumulative SUM
    # silently skips.  Take the log only of strictly-positive factors
    # and force survival to exactly 0 at (and after) any exhausting
    # step instead.
    log_term = F.when(
        F.col("deaths") < F.col("at_risk"),
        F.log(
            F.lit(1.0)
            - F.col("deaths").cast("double") / F.col("at_risk")
        ),
    )
    exhausted = F.max(
        F.when(F.col("deaths") >= F.col("at_risk"), 1).otherwise(0)
    ).over(w_cum)
    km = F.when(exhausted == 1, F.lit(0.0)).otherwise(
        F.exp(F.sum(log_term).over(w_cum))
    )
    return (
        grouped.withColumn("at_risk", at_risk)
        .where(F.col("deaths") > 0)  # KM steps only at death times
        .select(
            F.col("lifetime").cast("long").alias("lifetime_days"),
            F.col("at_risk").cast("long").alias("at_risk"),
            F.col("deaths").cast("long").alias("deaths"),
            F.round(km, 6).alias("survival"),
        )
    )


KM_ORACLE = f"""
WITH days AS (
  SELECT user_id, CAST(ts AS DATE) AS d
  FROM events WHERE user_id IS NOT NULL GROUP BY 1, 2
), seq AS (
  SELECT user_id, d,
         LEAD(d) OVER (PARTITION BY user_id ORDER BY d) AS next_d
  FROM days
), per_user AS (
  SELECT user_id,
         MIN(CASE WHEN date_diff('day', d, next_d) >= {KM_GAP_DAYS}
                  THEN d END) AS churn_d,
         MIN(d) AS first_d,
         MAX(d) AS last_d
  FROM seq GROUP BY user_id
), horizon AS (
  SELECT MAX(d) AS corpus_max FROM days
), subjects AS (
  SELECT CASE WHEN churn_d IS NOT NULL
              THEN date_diff('day', first_d, churn_d)
              ELSE date_diff('day', first_d, last_d) END AS lifetime,
         (churn_d IS NOT NULL
          OR date_diff('day', last_d,
                       (SELECT corpus_max FROM horizon))
             >= {KM_GAP_DAYS}) AS died
  FROM per_user
), grouped AS (
  SELECT lifetime,
         SUM(CASE WHEN died THEN 1 ELSE 0 END) AS deaths,
         COUNT(*) AS leavers
  FROM subjects GROUP BY lifetime
), curve AS (
  SELECT lifetime, deaths,
         SUM(leavers) OVER ()
           - COALESCE(SUM(leavers) OVER (ORDER BY lifetime
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS at_risk
  FROM grouped
), km AS (
  -- mirror the Spark-side terminal-step guard: never take ln(0)
  -- (DuckDB errors outright); survival is exactly 0 from the step
  -- where deaths == at_risk onward
  SELECT lifetime, deaths, at_risk,
         CASE WHEN MAX(CASE WHEN deaths >= at_risk THEN 1 ELSE 0 END)
                   OVER (ORDER BY lifetime
                         ROWS BETWEEN UNBOUNDED PRECEDING
                         AND CURRENT ROW) = 1
              THEN 0.0
              ELSE exp(SUM(CASE WHEN deaths < at_risk
                           THEN ln(1.0 - CAST(deaths AS DOUBLE) / at_risk)
                           END)
                  OVER (ORDER BY lifetime
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
         END AS survival
  FROM curve
)
SELECT CAST(lifetime AS BIGINT) AS lifetime_days,
       CAST(at_risk AS BIGINT) AS at_risk,
       CAST(deaths AS BIGINT) AS deaths,
       ROUND(survival, 6) AS survival
FROM km WHERE deaths > 0
"""


def benford_prices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-significant-digit distribution of order totals vs
    Benford's law, with per-digit chi-square contributions."""
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_totalprice") > 0
    )
    digit = F.floor(
        F.col("o_totalprice")
        / F.pow(F.lit(10.0), F.floor(F.log10("o_totalprice")))
    )
    counts = orders.groupBy(digit.cast("int").alias("digit")).agg(
        F.count(F.lit(1)).alias("n")
    )
    total = Window.partitionBy()
    n_total = F.sum("n").over(total)
    observed = F.col("n") / n_total
    expected = F.log10(F.lit(1.0) + F.lit(1.0) / F.col("digit"))
    # Pearson per-digit contribution is N*(f-e)^2/e — WITH the total
    # count factor: omitting N makes every term ~N times too small, so
    # a chi2(8df) cutoff test would declare grossly fabricated data
    # clean.
    chi2 = (
        n_total
        * (observed - expected)
        * (observed - expected)
        / expected
    )
    return counts.select(
        "digit",
        F.col("n").cast("long").alias("n"),
        F.round(observed, 6).alias("observed_freq"),
        F.round(expected, 6).alias("benford_freq"),
        F.round(chi2, 8).alias("chi2_term"),
    )


BENFORD_ORACLE = """
WITH counts AS (
  SELECT CAST(floor(o_totalprice
               / power(10.0, floor(log10(o_totalprice)))) AS INTEGER)
           AS digit,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM orders WHERE o_totalprice > 0
  GROUP BY 1
)
SELECT digit, n,
       ROUND(CAST(n AS DOUBLE) / SUM(n) OVER (), 6) AS observed_freq,
       ROUND(log10(1.0 + 1.0 / digit), 6) AS benford_freq,
       ROUND(SUM(n) OVER ()
             * (CAST(n AS DOUBLE) / SUM(n) OVER ()
                 - log10(1.0 + 1.0 / digit))
             * (CAST(n AS DOUBLE) / SUM(n) OVER ()
                 - log10(1.0 + 1.0 / digit))
             / log10(1.0 + 1.0 / digit), 8) AS chi2_term
FROM counts
"""

EXTRA_QUERIES["anomaly_daily_revenue"] = anomaly_daily_revenue
EXTRA_ORACLES["anomaly_daily_revenue"] = ANOMALY_ORACLE
EXTRA_QUERIES["survival_km_users"] = survival_km_users
EXTRA_ORACLES["survival_km_users"] = KM_ORACLE
EXTRA_QUERIES["benford_prices"] = benford_prices
EXTRA_ORACLES["benford_prices"] = BENFORD_ORACLE


# --------------------------------------------------------------------
# Last-touch attribution
# --------------------------------------------------------------------


def attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marketing-style attribution: every purchase is credited to the
    user's most recent PRECEDING non-purchase event (ties on timestamp
    broken by event_id, mirrored in the oracle); purchases with no
    prior touch credit 'direct'. One window over (user, time) — the
    as-of lookup without a self-join — then a tiny per-channel rollup
    of purchase count and revenue (order-independent decimal sum).
    """
    from ..functions.numeric import dsum

    events = load_table(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull()
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    touch = F.last(
        F.when(F.col("event_type") != "purchase", F.col("event_type")),
        ignorenulls=True,
    ).over(w)
    attributed = events.withColumn("touch", touch).where(
        F.col("event_type") == "purchase"
    )
    return attributed.groupBy(
        F.coalesce("touch", F.lit("direct")).alias("channel")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("purchases"),
        dsum(F.col("value")).alias("revenue"),
    )


ATTRIBUTION_ORACLE = """
WITH touched AS (
  SELECT event_type, value,
         last_value(CASE WHEN event_type <> 'purchase' THEN event_type END
                    IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS touch
  FROM events WHERE user_id IS NOT NULL
)
SELECT COALESCE(touch, 'direct') AS channel,
       CAST(COUNT(*) AS BIGINT) AS purchases,
       CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS revenue
FROM touched WHERE event_type = 'purchase'
GROUP BY 1
"""


# --------------------------------------------------------------------
# ABC (Pareto) classification
# --------------------------------------------------------------------


def abc_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC inventory classification: parts ranked by revenue; the
    classic 80/95 cumulative-share cut (A = first 80 % of revenue,
    B = next 15 %, C = tail). Cumulative shares come from exact
    decimal running sums, so class boundaries are partitioning- and
    engine-independent. The part grain is corpus-proportional, so the
    running sum goes through the two-pass range-partitioned prefix-sum
    (operators/ranking.py) instead of a single-task global window:
    descending revenue order is expressed as ascending (-rev, partkey).
    """
    from ..operators.ranking import with_rank

    lineitem = load_table(spark, sf_dir, "lineitem")
    per_part = lineitem.groupBy("l_partkey").agg(
        F.sum(
            (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                "decimal(18,4)"
            )
        ).alias("rev")
    )
    # rev DESC, partkey ASC == (-rev) ASC, partkey ASC — lets the
    # ascending range-ranking operator carry the exact running sum.
    per_part = per_part.withColumn("_negrev", -F.col("rev"))
    ranked, parts = with_rank(
        per_part, [], ["_negrev", "l_partkey"], rank_col="i", cum_cols=["rev"]
    )
    total_rev = sum(p["sum"]["rev"] for p in parts)
    total = F.lit(str(total_rev)).cast("decimal(38,4)")
    share = F.col("cum_rev").cast("double") / total.cast("double")
    klass = (
        F.when(share <= 0.80, "A")
        .when(share <= 0.95, "B")
        .otherwise("C")
    )
    return ranked.select(
        F.col("l_partkey").cast("long").alias("partkey"),
        F.col("rev").cast("double").alias("revenue"),
        F.round(share, 6).alias("cum_share"),
        klass.alias("abc_class"),
    )


ABC_ORACLE = """
WITH per_part AS (
  SELECT l_partkey,
         SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4)))
           AS rev
  FROM lineitem GROUP BY l_partkey
), ranked AS (
  SELECT l_partkey, rev,
         CAST(SUM(rev) OVER (ORDER BY rev DESC, l_partkey ASC
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
           / CAST(SUM(rev) OVER () AS DOUBLE) AS share
  FROM per_part
)
SELECT CAST(l_partkey AS BIGINT) AS partkey,
       CAST(rev AS DOUBLE) AS revenue,
       ROUND(share, 6) AS cum_share,
       CASE WHEN share <= 0.80 THEN 'A'
            WHEN share <= 0.95 THEN 'B'
            ELSE 'C' END AS abc_class
FROM ranked
"""


# --------------------------------------------------------------------
# Join-key skew profile
# --------------------------------------------------------------------


def skew_profile_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-join skew diagnostic for a join key: per-key frequency
    spectrum of orders.o_custkey — max/p99/median key multiplicity,
    the top-key share, and the Gini coefficient of the key
    distribution (0 = uniform, →1 = one hot key). This is the check a
    pipeline runs BEFORE a 100 TB shuffle join to decide between
    plain hash join, AQE skew splitting, or salting
    (operators/skew.py). Exact percentiles over the per-key counts
    (a frame of #distinct-keys rows, tiny vs the corpus); the Gini
    uses the rank-weighted form 2·Σ(i·xᵢ)/(n·Σx) - (n+1)/n over
    counts sorted ascending with deterministic key tie-break. The key
    grain is corpus-proportional, so the rank comes from the two-pass
    range-partitioned ranking (operators/ranking.py), not a
    single-task global window — fitting, for the query whose job is
    pre-shuffle skew diagnosis.
    """
    from ..operators.ranking import with_rank

    orders = load_table(spark, sf_dir, "orders")
    per_key = orders.groupBy("o_custkey").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    ranked, _ = with_rank(per_key, [], ["cnt", "o_custkey"], rank_col="i")
    stats = ranked.agg(
        F.count(F.lit(1)).cast("long").alias("n_keys"),
        F.sum("cnt").cast("long").alias("n_rows"),
        F.max("cnt").cast("long").alias("max_mult"),
        F.expr("percentile(cnt, 0.99)").alias("p99_mult"),
        F.expr("percentile(cnt, 0.5)").alias("median_mult"),
        F.sum(F.col("i").cast("decimal(38,0)") * F.col("cnt")).alias("iw"),
    )
    # n_keys * n_rows as DOUBLES: the long*long
    # product overflows int64 at ~1e10 keys x 1.5e11 rows — exactly the
    # 100 TB scale this diagnostic targets — raising ARITHMETIC_OVERFLOW
    # under ANSI. Double arithmetic is what the ratio needs anyway.
    gini = (
        F.lit(2.0) * F.col("iw").cast("double")
        / (F.col("n_keys").cast("double") * F.col("n_rows").cast("double"))
        - (F.col("n_keys") + F.lit(1.0)) / F.col("n_keys")
    )
    return stats.select(
        "n_keys",
        "n_rows",
        "max_mult",
        F.round("p99_mult", 4).alias("p99_mult"),
        F.round("median_mult", 4).alias("median_mult"),
        F.round(gini, 6).alias("gini"),
        F.round(
            F.col("max_mult") / F.col("n_rows").cast("double"), 6
        ).alias("top_key_share"),
    )


SKEW_PROFILE_ORACLE = """
WITH per_key AS (
  SELECT o_custkey, COUNT(*) AS cnt FROM orders GROUP BY o_custkey
), ranked AS (
  SELECT cnt,
         row_number() OVER (ORDER BY cnt ASC, o_custkey ASC) AS i
  FROM per_key
), s AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
         CAST(SUM(cnt) AS BIGINT) AS n_rows,
         CAST(MAX(cnt) AS BIGINT) AS max_mult,
         quantile_cont(cnt, 0.99) AS p99_mult,
         quantile_cont(cnt, 0.5) AS median_mult,
         SUM(CAST(i AS DECIMAL(38,0)) * cnt) AS iw
  FROM ranked
)
SELECT n_keys, n_rows, max_mult,
       ROUND(p99_mult, 4) AS p99_mult,
       ROUND(median_mult, 4) AS median_mult,
       ROUND(2.0 * CAST(iw AS DOUBLE) / (n_keys * n_rows)
             - (n_keys + 1.0) / n_keys, 6) AS gini,
       ROUND(CAST(max_mult AS DOUBLE) / n_rows, 6) AS top_key_share
FROM s
"""

EXTRA_QUERIES["attribution_last_touch"] = attribution_last_touch
EXTRA_ORACLES["attribution_last_touch"] = ATTRIBUTION_ORACLE
EXTRA_QUERIES["abc_parts"] = abc_parts
EXTRA_ORACLES["abc_parts"] = ABC_ORACLE
QUERIES["skew_profile_orders"] = skew_profile_orders
ORACLES["skew_profile_orders"] = SKEW_PROFILE_ORACLE


# --------------------------------------------------------------------
# Grouped OLS regression
# --------------------------------------------------------------------


def regress_brand_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-brand OLS fit of retail price on size: slope, intercept, r².

    Closed-form regression from five DECIMAL partial sums (n, Σx, Σy,
    Σxy, Σx², Σy²) — one map-side-combinable aggregate per group, the
    way a 100 TB trend fit must run (MLlib's iterative fitters are for
    models that HAVE no closed form). All divisions happen once, in
    double, in the same expression shape as the oracle. Spark 4 has
    regr_slope/regr_r2 built-ins, but their double accumulators are
    partition-order-dependent; the decimal partials make the fit
    reproducible under any partitioning.
    """
    part = load_table(spark, sf_dir, "part")
    x = F.col("p_size").cast("decimal(18,4)")
    y = F.col("p_retailprice").cast("decimal(18,4)")
    sums = part.groupBy("p_brand").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(x).cast("double").alias("sx"),
        F.sum(y).cast("double").alias("sy"),
        F.sum((x * y).cast("decimal(38,8)")).cast("double").alias("sxy"),
        F.sum((x * x).cast("decimal(38,8)")).cast("double").alias("sxx"),
        F.sum((y * y).cast("decimal(38,8)")).cast("double").alias("syy"),
    )
    den_x = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    den_y = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    cov = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    # try_divide: a single-part or constant-size brand makes den_x
    # exactly 0.0 — NULL slope/r2 (matching DuckDB's /0) instead of an
    # ANSI DIVIDE_BY_ZERO that would kill all 25 brands.
    slope = F.try_divide(cov, den_x)
    intercept = F.try_divide(F.col("sy") - slope * F.col("sx"), F.col("n"))
    r2 = F.try_divide(cov * cov, den_x * den_y)
    return sums.select(
        "p_brand",
        F.col("n").cast("long").alias("n"),
        F.round(slope, 6).alias("slope"),
        F.round(intercept, 6).alias("intercept"),
        F.round(r2, 6).alias("r2"),
    )


REGRESS_ORACLE = """
WITH sums AS (
  SELECT p_brand,
         CAST(COUNT(*) AS DOUBLE) AS n,
         CAST(SUM(CAST(p_size AS DECIMAL(18,4))) AS DOUBLE) AS sx,
         CAST(SUM(CAST(p_retailprice AS DECIMAL(18,4))) AS DOUBLE) AS sy,
         CAST(SUM(CAST(CAST(p_size AS DECIMAL(18,4))
                       * CAST(p_retailprice AS DECIMAL(18,4))
                       AS DECIMAL(38,8))) AS DOUBLE) AS sxy,
         CAST(SUM(CAST(CAST(p_size AS DECIMAL(18,4))
                       * CAST(p_size AS DECIMAL(18,4))
                       AS DECIMAL(38,8))) AS DOUBLE) AS sxx,
         CAST(SUM(CAST(CAST(p_retailprice AS DECIMAL(18,4))
                       * CAST(p_retailprice AS DECIMAL(18,4))
                       AS DECIMAL(38,8))) AS DOUBLE) AS syy
  FROM part GROUP BY p_brand
)
SELECT p_brand,
       CAST(n AS BIGINT) AS n,
       ROUND((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS slope,
       ROUND((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n, 6)
         AS intercept,
       ROUND((n * sxy - sx * sy) * (n * sxy - sx * sy)
             / ((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) AS r2
FROM sums
"""


# --------------------------------------------------------------------
# Welch two-sample t-test
# --------------------------------------------------------------------


def ab_welch_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's unequal-variance t-test comparing event `value` between
    every pair of event types — the A/B significance scan. Per-group
    moments come from one decimal aggregate (6 rows); the pairwise
    t statistics and Welch-Satterthwaite degrees of freedom are then
    arithmetic on that broadcast-tiny frame. At 100 TB the corpus is
    touched once; the pair algebra is constant-size.
    """
    events = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull()
    )
    v = F.col("value").cast("decimal(18,6)")
    g = events.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(v).cast("double").alias("s"),
        F.sum((v * v).cast("decimal(38,10)")).cast("double").alias("ss"),
    )
    a = g.select(
        F.col("event_type").alias("type_a"),
        F.col("n").alias("na"),
        F.col("s").alias("sa"),
        F.col("ss").alias("ssa"),
    )
    b = g.select(
        F.col("event_type").alias("type_b"),
        F.col("n").alias("nb"),
        F.col("s").alias("sb"),
        F.col("ss").alias("ssb"),
    )
    pairs = a.join(F.broadcast(b), F.col("type_a") < F.col("type_b"))
    ma = F.col("sa") / F.col("na")
    mb = F.col("sb") / F.col("nb")
    # try_divide on the n-1 terms: an event type with
    # a SINGLE non-null value has undefined sample variance — NULL t/df
    # (matching DuckDB's /0) instead of an ANSI throw killing all 10
    # pairs.
    va = F.try_divide(
        F.col("ssa") - F.col("sa") * F.col("sa") / F.col("na"),
        F.col("na") - 1,
    )
    vb = F.try_divide(
        F.col("ssb") - F.col("sb") * F.col("sb") / F.col("nb"),
        F.col("nb") - 1,
    )
    se2 = va / F.col("na") + vb / F.col("nb")
    t = F.try_divide(ma - mb, F.sqrt(se2))
    df = F.try_divide(
        se2 * se2,
        (va / F.col("na")) * (va / F.col("na")) / (F.col("na") - 1)
        + (vb / F.col("nb")) * (vb / F.col("nb")) / (F.col("nb") - 1),
    )
    return pairs.select(
        "type_a",
        "type_b",
        F.col("na").cast("long").alias("na"),
        F.col("nb").cast("long").alias("nb"),
        F.round(ma - mb, 6).alias("mean_diff"),
        F.round(t, 4).alias("t_stat"),
        F.round(df, 2).alias("welch_df"),
    )


WELCH_ORACLE = """
WITH g AS (
  SELECT event_type,
         CAST(COUNT(*) AS DOUBLE) AS n,
         CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS s,
         CAST(SUM(CAST(CAST(value AS DECIMAL(18,6))
                       * CAST(value AS DECIMAL(18,6))
                       AS DECIMAL(38,10))) AS DOUBLE) AS ss
  FROM events WHERE value IS NOT NULL GROUP BY event_type
), pairs AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b,
         a.n AS na, a.s AS sa, a.ss AS ssa,
         b.n AS nb, b.s AS sb, b.ss AS ssb
  FROM g a JOIN g b ON a.event_type < b.event_type
), calc AS (
  SELECT type_a, type_b, na, nb,
         sa / na - sb / nb AS mean_diff,
         (ssa - sa * sa / na) / (na - 1) AS va,
         (ssb - sb * sb / nb) / (nb - 1) AS vb
  FROM pairs
)
SELECT type_a, type_b,
       CAST(na AS BIGINT) AS na,
       CAST(nb AS BIGINT) AS nb,
       ROUND(mean_diff, 6) AS mean_diff,
       ROUND(mean_diff / sqrt(va / na + vb / nb), 4) AS t_stat,
       ROUND((va / na + vb / nb) * (va / na + vb / nb)
             / ((va / na) * (va / na) / (na - 1)
                + (vb / nb) * (vb / nb) / (nb - 1)), 2) AS welch_df
FROM calc
"""

EXTRA_QUERIES["regress_brand_price"] = regress_brand_price
EXTRA_ORACLES["regress_brand_price"] = REGRESS_ORACLE
EXTRA_QUERIES["ab_welch_value"] = ab_welch_value
EXTRA_ORACLES["ab_welch_value"] = WELCH_ORACLE


# --------------------------------------------------------------------
# Conversion latency distribution
# --------------------------------------------------------------------


def conversion_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """View→purchase conversion latency: per user, seconds from first
    view to the first purchase AFTER it; one distribution row (count +
    exact interpolated quantiles). Two tiny aggregates after the
    per-user shuffle — the grain a 100 TB funnel reduces to before any
    percentile math. Timestamp differences go through unix epoch
    seconds (NTZ-safe, engine-identical integers)."""
    events = load_table(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull()
    )
    per_user = events.groupBy("user_id").agg(
        F.min(
            F.when(F.col("event_type") == "view", F.unix_timestamp("ts"))
        ).alias("first_view")
    )
    first_buy_after = (
        events.join(per_user, "user_id")
        .where(
            (F.col("event_type") == "purchase")
            & F.col("first_view").isNotNull()
            & (F.unix_timestamp("ts") >= F.col("first_view"))
        )
        .groupBy("user_id")
        .agg(
            F.min(F.unix_timestamp("ts") - F.col("first_view")).alias(
                "latency_s"
            )
        )
    )
    return first_buy_after.agg(
        F.count(F.lit(1)).cast("long").alias("n_converted"),
        F.round(F.expr("percentile(latency_s, 0.5)"), 4).alias("p50_s"),
        F.round(F.expr("percentile(latency_s, 0.9)"), 4).alias("p90_s"),
        F.max("latency_s").cast("long").alias("max_s"),
    )


CONVERSION_LATENCY_ORACLE = """
WITH per_user AS (
  SELECT user_id,
         MIN(CASE WHEN event_type = 'view'
                  THEN CAST(floor(epoch(ts)) AS BIGINT) END) AS first_view
  FROM events WHERE user_id IS NOT NULL GROUP BY user_id
), lat AS (
  -- floor(epoch()) mirrors Spark's unix_timestamp second truncation
  SELECT e.user_id,
         MIN(CAST(floor(epoch(e.ts)) AS BIGINT) - p.first_view) AS latency_s
  FROM events e JOIN per_user p ON e.user_id = p.user_id
  WHERE e.event_type = 'purchase'
    AND p.first_view IS NOT NULL
    AND CAST(floor(epoch(e.ts)) AS BIGINT) >= p.first_view
  GROUP BY e.user_id
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_converted,
       ROUND(quantile_cont(latency_s, 0.5), 4) AS p50_s,
       ROUND(quantile_cont(latency_s, 0.9), 4) AS p90_s,
       CAST(MAX(latency_s) AS BIGINT) AS max_s
FROM lat
"""

QUERIES["conversion_latency"] = conversion_latency
ORACLES["conversion_latency"] = CONVERSION_LATENCY_ORACLE


# --------------------------------------------------------------------
# Running distinct users (cumulative DAU)
# --------------------------------------------------------------------


def running_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative distinct users by day. DISTINCT inside a running
    window is unsupported (and at scale would keep every seen key in
    window state); the scalable formulation is first-appearance
    arithmetic: each user contributes one row at their first-seen day
    (one groupBy), and the running distinct count is a cumulative SUM
    of those first appearances over the day grain. The oracle computes
    the same numbers with a correlated COUNT(DISTINCT ...) subquery —
    a different algorithm entirely, so parity is cross-algorithm.
    Output: (day, new_users, cum_users) for every active day.
    """
    events = load_table(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull()
    )
    day = F.col("ts").cast("date")
    firsts = events.groupBy("user_id").agg(F.min(day).alias("first_day"))
    new_per_day = firsts.groupBy("first_day").agg(
        F.count(F.lit(1)).alias("new_users")
    )
    active_days = events.select(day.alias("day")).distinct()
    per_day = active_days.join(
        new_per_day, active_days.day == new_per_day.first_day, "left"
    ).select(
        "day", F.coalesce("new_users", F.lit(0)).alias("new_users")
    )
    w = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return per_day.select(
        F.col("day").cast("string").alias("day"),
        F.col("new_users").cast("long").alias("new_users"),
        F.sum("new_users").over(w).cast("long").alias("cum_users"),
    )


RUNNING_DISTINCT_ORACLE = """
SELECT CAST(d.day AS VARCHAR) AS day,
       CAST((SELECT COUNT(DISTINCT e.user_id) FROM events e
             WHERE e.user_id IS NOT NULL
               AND CAST(e.ts AS DATE) = d.day
               AND NOT EXISTS (
                 SELECT 1 FROM events p
                 WHERE p.user_id = e.user_id
                   AND CAST(p.ts AS DATE) < d.day)) AS BIGINT) AS new_users,
       CAST((SELECT COUNT(DISTINCT e.user_id) FROM events e
             WHERE e.user_id IS NOT NULL
               AND CAST(e.ts AS DATE) <= d.day) AS BIGINT) AS cum_users
FROM (SELECT DISTINCT CAST(ts AS DATE) AS day
      FROM events WHERE user_id IS NOT NULL) d
"""

EXTRA_QUERIES["running_distinct_users"] = running_distinct_users
EXTRA_ORACLES["running_distinct_users"] = RUNNING_DISTINCT_ORACLE


# --------------------------------------------------------------------
# EWMA trend (banded decay join)
# --------------------------------------------------------------------

EWMA_SPAN_DAYS = 30
EWMA_DECAY = 0.9


def ewma_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted trailing revenue per day: Σ rev(d-k)·λᵏ
    over the last ``EWMA_SPAN_DAYS`` days, normalized by the realized
    weight sum (series edges and gap days get the correct truncated
    normalization instead of assuming a full window). The weighted
    frame needs every (day, lag) pair, which no fixed window frame
    expresses — a banded self-join of the DAY-GRAIN series (≤ span
    rows per day, thousands of rows total at any corpus size; the
    corpus itself is reduced to the day grain first). λᵏ is double
    ``pow`` with identical integer exponents on both engines; outputs
    round to 4dp.
    """
    orders = load_table(spark, sf_dir, "orders")
    day = F.datediff(F.col("o_orderdate").cast("date"), F.lit("1970-01-01"))
    daily = orders.groupBy(day.alias("day")).agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,4)")).alias("rev")
    )
    a = daily.select(F.col("day").alias("d"))
    b = daily.select(F.col("day").alias("d2"), F.col("rev").alias("rev2"))
    pairs = a.join(
        b,
        (F.col("d2") <= F.col("d"))
        & (F.col("d2") > F.col("d") - EWMA_SPAN_DAYS),
    )
    w = F.pow(F.lit(EWMA_DECAY), (F.col("d") - F.col("d2")).cast("double"))
    return (
        pairs.groupBy("d")
        .agg(
            F.round(
                F.sum(F.col("rev2").cast("double") * w) / F.sum(w), 4
            ).alias("ewma_rev")
        )
        .select(F.col("d").cast("long").alias("day"), "ewma_rev")
    )


EWMA_ORACLE = f"""
WITH daily AS (
  SELECT CAST(datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
              AS BIGINT) AS day,
         SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS rev
  FROM orders GROUP BY 1
), pairs AS (
  SELECT a.day AS d, b.day AS d2, b.rev AS rev2
  FROM daily a JOIN daily b
    ON b.day <= a.day AND b.day > a.day - {EWMA_SPAN_DAYS}
)
SELECT d AS day,
       ROUND(SUM(CAST(rev2 AS DOUBLE)
                 * power({EWMA_DECAY}, CAST(d - d2 AS DOUBLE)))
             / SUM(power({EWMA_DECAY}, CAST(d - d2 AS DOUBLE))), 4)
         AS ewma_rev
FROM pairs GROUP BY d
"""

QUERIES["ewma_daily_revenue"] = ewma_daily_revenue
ORACLES["ewma_daily_revenue"] = EWMA_ORACLE


# --------------------------------------------------------------------
# Period-over-period growth
# --------------------------------------------------------------------


def yoy_revenue_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-grain revenue with MoM and YoY growth (calendar-exact
    RANGE frames over the month index) — the BI staple. The corpus reduces
    to (month, decimal revenue) in one shuffle; growth ratios are
    window lags over months (hundreds of rows at any corpus size).
    Months with no same-month-last-year comparison emit NULL YoY, not
    a fabricated zero."""
    orders = load_table(spark, sf_dir, "orders")
    month = (
        F.year("o_orderdate") * 12 + F.month("o_orderdate") - 1
    )  # contiguous month index -> lag-k is exactly k calendar months
    monthly = orders.groupBy(month.alias("m")).agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,4)")).alias("rev")
    )
    # RANGE frames keyed on the month INDEX, not row lags: lag(rev, 12)
    # is 12 ROWS back, so one zero-order month would shift every later
    # comparison to the wrong base month; a range frame of exactly
    # [m-k, m-k] is calendar-true with gaps and emits NULL when the
    # base month is absent.
    prev = F.max("rev").over(
        Window.orderBy("m").rangeBetween(-1, -1)
    )
    prev12 = F.max("rev").over(
        Window.orderBy("m").rangeBetween(-12, -12)
    )
    growth = lambda cur, base: F.when(  # noqa: E731
        base.isNotNull(),
        F.round(
            (cur.cast("double") - base.cast("double"))
            / base.cast("double"),
            6,
        ),
    )
    return monthly.select(
        (F.col("m") / 12).cast("int").alias("year"),
        (F.col("m") % 12 + 1).cast("int").alias("month"),
        F.col("rev").cast("double").alias("revenue"),
        growth(F.col("rev"), prev).alias("mom_growth"),
        growth(F.col("rev"), prev12).alias("yoy_growth"),
    )


YOY_ORACLE = """
WITH monthly AS (
  SELECT CAST(EXTRACT(YEAR FROM o_orderdate) * 12
              + EXTRACT(MONTH FROM o_orderdate) - 1 AS BIGINT) AS m,
         SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS rev
  FROM orders GROUP BY 1
), lagged AS (
  SELECT m, rev,
         MAX(rev) OVER (ORDER BY m
           RANGE BETWEEN 1 PRECEDING AND 1 PRECEDING) AS prev,
         MAX(rev) OVER (ORDER BY m
           RANGE BETWEEN 12 PRECEDING AND 12 PRECEDING) AS prev12
  FROM monthly
)
SELECT CAST(m // 12 AS INTEGER) AS year,  -- // : DuckDB / is float div and CAST rounds
       CAST(m % 12 + 1 AS INTEGER) AS month,
       CAST(rev AS DOUBLE) AS revenue,
       CASE WHEN prev IS NOT NULL THEN
         ROUND((CAST(rev AS DOUBLE) - CAST(prev AS DOUBLE))
               / CAST(prev AS DOUBLE), 6) END AS mom_growth,
       CASE WHEN prev12 IS NOT NULL THEN
         ROUND((CAST(rev AS DOUBLE) - CAST(prev12 AS DOUBLE))
               / CAST(prev12 AS DOUBLE), 6) END AS yoy_growth
FROM lagged
"""


def dow_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week seasonal index of order revenue: each weekday's mean
    daily revenue vs the all-days mean (index > 1 = heavy day) — the
    pre-step before anomaly thresholds so Mondays aren't flagged for
    being Mondays (deseasonalize by dividing daily revenue by its
    weekday's index, then threshold). ISO weekday numbering (1=Mon) on
    both engines."""
    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.col("o_orderdate").cast("date").alias("d")
    ).agg(F.sum(F.col("o_totalprice").cast("decimal(18,4)")).alias("rev"))
    dow = daily.groupBy(F.weekday("d").alias("wd")).agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.sum("rev").alias("rev_sum"),
    )
    total = Window.partitionBy()
    overall_mean = (
        F.sum("rev_sum").over(total).cast("double")
        / F.sum("n_days").over(total)
    )
    day_mean = F.col("rev_sum").cast("double") / F.col("n_days")
    return dow.select(
        (F.col("wd") + 1).cast("int").alias("iso_weekday"),
        "n_days",
        F.round(day_mean, 4).alias("mean_daily_rev"),
        F.round(day_mean / overall_mean, 6).alias("seasonal_index"),
    )


DOW_ORACLE = """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS d,
         SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS rev
  FROM orders GROUP BY 1
), dow AS (
  SELECT isodow(d) AS iso_weekday,
         CAST(COUNT(*) AS BIGINT) AS n_days,
         SUM(rev) AS rev_sum
  FROM daily GROUP BY 1
)
SELECT CAST(iso_weekday AS INTEGER) AS iso_weekday,
       n_days,
       ROUND(CAST(rev_sum AS DOUBLE) / n_days, 4) AS mean_daily_rev,
       ROUND((CAST(rev_sum AS DOUBLE) / n_days)
             / (CAST(SUM(rev_sum) OVER () AS DOUBLE) / SUM(n_days) OVER ()),
             6) AS seasonal_index
FROM dow
"""

QUERIES["yoy_revenue_growth"] = yoy_revenue_growth
ORACLES["yoy_revenue_growth"] = YOY_ORACLE
QUERIES["dow_seasonality"] = dow_seasonality
ORACLES["dow_seasonality"] = DOW_ORACLE


# --------------------------------------------------------------------
# MoM waterfall decomposition
# --------------------------------------------------------------------


def waterfall_nation_mom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-over-month revenue delta decomposed by customer nation —
    the waterfall chart's data: each nation's delta and its share of
    the total month delta (shares sum to 1 per month by construction;
    exact decimal deltas make that an identity, not an approximation).
    A dense (month × nation) grid (two broadcast-tiny distinct frames
    crossed) zero-fills silent months so lag-1 always compares
    calendar-adjacent months. Corpus work: one join + one groupBy; all
    window math runs on the ~|months|·|nations| grid."""
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    month = F.year("o_orderdate") * 12 + F.month("o_orderdate") - 1
    per = (
        orders.join(
            F.broadcast(customer.select("c_custkey", "c_nationkey")),
            orders.o_custkey == F.col("c_custkey"),
        )
        .join(
            F.broadcast(nation),
            F.col("c_nationkey") == nation.n_nationkey,
        )
        .groupBy(month.alias("m"), F.col("n_name").alias("nation"))
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,4)")).alias("rev")
        )
    )
    months = per.select("m").distinct()
    nations = per.select("nation").distinct()
    grid = months.crossJoin(F.broadcast(nations))
    dense = grid.join(per, ["m", "nation"], "left").select(
        "m",
        "nation",
        F.coalesce("rev", F.lit(0).cast("decimal(18,4)")).alias("rev"),
    )
    w = Window.partitionBy("nation").orderBy("m")
    delta = F.col("rev") - F.lag("rev", 1).over(w)
    with_delta = dense.withColumn("delta", delta).where(
        F.col("delta").isNotNull()
    )
    w_m = Window.partitionBy("m")
    total = F.sum("delta").over(w_m)
    return with_delta.select(
        (F.col("m") / 12).cast("int").alias("year"),
        (F.col("m") % 12 + 1).cast("int").alias("month"),
        "nation",
        F.col("delta").cast("double").alias("delta"),
        F.when(
            total != 0,
            F.round(
                F.col("delta").cast("double") / total.cast("double"), 6
            ),
        ).alias("share_of_move"),
    )


WATERFALL_ORACLE = """
WITH per AS (
  SELECT CAST(EXTRACT(YEAR FROM o.o_orderdate) * 12
              + EXTRACT(MONTH FROM o.o_orderdate) - 1 AS BIGINT) AS m,
         n.n_name AS nation,
         SUM(CAST(o.o_totalprice AS DECIMAL(18,4))) AS rev
  FROM orders o
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n ON c.c_nationkey = n.n_nationkey
  GROUP BY 1, 2
), grid AS (
  SELECT m, nation FROM (SELECT DISTINCT m FROM per)
  CROSS JOIN (SELECT DISTINCT nation FROM per)
), dense AS (
  SELECT g.m, g.nation,
         COALESCE(p.rev, CAST(0 AS DECIMAL(18,4))) AS rev
  FROM grid g LEFT JOIN per p ON g.m = p.m AND g.nation = p.nation
), deltas AS (
  SELECT m, nation, rev,
         rev - LAG(rev, 1) OVER (PARTITION BY nation ORDER BY m) AS delta
  FROM dense
)
SELECT CAST(m // 12 AS INTEGER) AS year,
       CAST(m % 12 + 1 AS INTEGER) AS month,
       nation,
       CAST(delta AS DOUBLE) AS delta,
       CASE WHEN SUM(delta) OVER (PARTITION BY m) <> 0 THEN
         ROUND(CAST(delta AS DOUBLE)
               / CAST(SUM(delta) OVER (PARTITION BY m) AS DOUBLE), 6)
       END AS share_of_move
FROM deltas WHERE delta IS NOT NULL
"""

EXTRA_QUERIES["waterfall_nation_mom"] = waterfall_nation_mom
EXTRA_ORACLES["waterfall_nation_mom"] = WATERFALL_ORACLE


# --------------------------------------------------------------------
# Market concentration (HHI)
# --------------------------------------------------------------------


def hhi_supplier_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl-Hirschman concentration of lineitem revenue across
    suppliers, per nation: HHI = Σ shareᵢ² over each nation's
    suppliers (1/n for perfect competition → 1.0 for monopoly). The
    corpus reduces once to (nation, supplier, decimal revenue); shares
    and the Σshare² fold run on the supplier grain. The effective
    supplier count 1/HHI is reported alongside — the number a capacity
    planner actually reads."""
    lineitem = load_table(spark, sf_dir, "lineitem")
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    per = (
        lineitem.join(
            F.broadcast(supplier.select("s_suppkey", "s_nationkey")),
            lineitem.l_suppkey == F.col("s_suppkey"),
        )
        .join(F.broadcast(nation), F.col("s_nationkey") == nation.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"), F.col("s_suppkey"))
        .agg(
            F.sum(
                (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                    "decimal(18,4)"
                )
            ).alias("rev")
        )
    )
    w = Window.partitionBy("nation")
    share = F.col("rev").cast("double") / F.sum("rev").over(w).cast("double")
    shared = per.select("nation", "s_suppkey", share.alias("share"))
    return (
        shared.groupBy("nation")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_suppliers"),
            # order-independent sum: raw double
            # accumulation varies with task order at the last ulp and
            # can flip the 6dp rounding vs the sequential oracle —
            # per-term 8dp rounding + decimal sum is the house rule
            # (functions/numeric.py)
            F.sum(
                F.round(F.col("share") * F.col("share"), 8).cast(
                    "decimal(18,8)"
                )
            )
            .cast("double")
            .alias("hhi_raw"),
        )
        .select(
            "nation",
            "n_suppliers",
            F.round("hhi_raw", 6).alias("hhi"),
            F.round(F.lit(1.0) / F.col("hhi_raw"), 4).alias(
                "effective_suppliers"
            ),
        )
    )


HHI_ORACLE = """
WITH per AS (
  SELECT n.n_name AS nation, l.l_suppkey,
         SUM(CAST(l.l_extendedprice * (1 - l.l_discount)
                  AS DECIMAL(18,4))) AS rev
  FROM lineitem l
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  JOIN nation n ON s.s_nationkey = n.n_nationkey
  GROUP BY 1, 2
), shares AS (
  SELECT nation,
         CAST(rev AS DOUBLE)
           / CAST(SUM(rev) OVER (PARTITION BY nation) AS DOUBLE) AS share
  FROM per
)
SELECT nation,
       CAST(COUNT(*) AS BIGINT) AS n_suppliers,
       ROUND(CAST(SUM(CAST(ROUND(share * share, 8) AS DECIMAL(18,8)))
                  AS DOUBLE), 6) AS hhi,
       ROUND(1.0 / CAST(SUM(CAST(ROUND(share * share, 8)
                  AS DECIMAL(18,8))) AS DOUBLE), 4) AS effective_suppliers
FROM shares GROUP BY nation
"""


# --------------------------------------------------------------------
# Categorical drift (chi-square)
# --------------------------------------------------------------------


def drift_priority_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Year-over-year drift of the order-priority mix: each year's
    category distribution vs the previous year's, scored with the
    chi-square statistic Σ (obs - exp)²/exp where exp scales the prior
    year's mix to this year's volume — the standard production check
    that an upstream change silently shifted a categorical column.
    Work: one (year, priority) aggregate; the drift algebra runs on
    the years×priorities grid."""
    orders = load_table(spark, sf_dir, "orders")
    per = orders.groupBy(
        F.year("o_orderdate").alias("yr"),
        F.col("o_orderpriority").alias("prio"),
    ).agg(F.count(F.lit(1)).alias("n"))
    w_yr = Window.partitionBy("yr")
    cur = per.select(
        "yr", "prio", "n", F.sum("n").over(w_yr).alias("tot")
    )
    prev = cur.select(
        (F.col("yr") + 1).alias("yr_p"),
        F.col("prio").alias("prio_p"),
        F.col("n").alias("n_prev"),
        F.col("tot").alias("tot_prev"),
    )
    joined = cur.join(
        prev,
        (F.col("yr") == F.col("yr_p")) & (F.col("prio") == F.col("prio_p")),
    )
    expected = (
        F.col("n_prev").cast("double")
        / F.col("tot_prev")
        * F.col("tot")
    )
    chi_term = (
        (F.col("n").cast("double") - expected)
        * (F.col("n").cast("double") - expected)
        / expected
    )
    return (
        joined.groupBy("yr")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_categories"),
            # 8dp-rounded decimal terms: order-independent sum (house
            # rule)
            F.round(
                F.sum(F.round(chi_term, 8).cast("decimal(18,8)")).cast(
                    "double"
                ),
                6,
            ).alias("chi2"),
        )
        .select(F.col("yr").cast("int").alias("year"), "n_categories", "chi2")
    )


DRIFT_ORACLE = """
WITH per AS (
  SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT) AS yr,
         o_orderpriority AS prio,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM orders GROUP BY 1, 2
), cur AS (
  SELECT yr, prio, n, SUM(n) OVER (PARTITION BY yr) AS tot FROM per
), joined AS (
  SELECT c.yr, c.n, c.tot, p.n AS n_prev, p.tot AS tot_prev
  FROM cur c JOIN cur p ON c.yr = p.yr + 1 AND c.prio = p.prio
)
SELECT CAST(yr AS INTEGER) AS year,
       CAST(COUNT(*) AS BIGINT) AS n_categories,
       ROUND(CAST(SUM(CAST(ROUND(
         (CAST(n AS DOUBLE) - CAST(n_prev AS DOUBLE) / tot_prev * tot)
         * (CAST(n AS DOUBLE) - CAST(n_prev AS DOUBLE) / tot_prev * tot)
         / (CAST(n_prev AS DOUBLE) / tot_prev * tot)
       , 8) AS DECIMAL(18,8))) AS DOUBLE), 6) AS chi2
FROM joined GROUP BY yr
"""

EXTRA_QUERIES["hhi_supplier_concentration"] = hhi_supplier_concentration
EXTRA_ORACLES["hhi_supplier_concentration"] = HHI_ORACLE
EXTRA_QUERIES["drift_priority_mix"] = drift_priority_mix
EXTRA_ORACLES["drift_priority_mix"] = DRIFT_ORACLE


# --------------------------------------------------------------------
# Interval stabbing via delta sweep (open-order backlog)
# --------------------------------------------------------------------


def backlog_open_lineitems(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-day count of lineitems in flight (ordered but not yet
    shipped): the interval-stabbing query answered with the DELTA
    SWEEP — +1 at each interval's start day, −1 at its end day, one
    groupBy to the day grain, one cumulative window. At 100 TB this is
    the difference between a day×interval band join (|days|·|rows|
    work) and a single linear pass; the oracle IS the band-join
    formulation, so parity is cross-algorithm. Closed-open [start,
    end) semantics: a lineitem shipped on day d no longer counts on d.
    Only days inside at least one interval appear (delta days union)."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.datediff(F.col("o_orderdate").cast("date"), F.lit("1970-01-01"))
        .alias("start_d"),
    )
    lineitem = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        F.datediff(F.col("l_shipdate").cast("date"), F.lit("1970-01-01"))
        .alias("end_d"),
    )
    iv = lineitem.join(
        orders, lineitem.l_orderkey == orders.o_orderkey
    ).where(F.col("end_d") > F.col("start_d"))
    deltas = iv.select(
        F.col("start_d").alias("day"), F.lit(1).alias("delta")
    ).unionAll(
        iv.select(F.col("end_d").alias("day"), F.lit(-1).alias("delta"))
    )
    per_day = deltas.groupBy("day").agg(F.sum("delta").alias("net"))
    w = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return per_day.select(
        F.col("day").cast("long").alias("day"),
        F.sum("net").over(w).cast("long").alias("open_items"),
    )


BACKLOG_ORACLE = """
WITH iv AS (
  SELECT CAST(datediff('day', DATE '1970-01-01',
              CAST(o.o_orderdate AS DATE)) AS BIGINT) AS start_d,
         CAST(datediff('day', DATE '1970-01-01',
              CAST(l.l_shipdate AS DATE)) AS BIGINT) AS end_d
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
  WHERE CAST(l.l_shipdate AS DATE) > CAST(o.o_orderdate AS DATE)
), days AS (
  SELECT DISTINCT start_d AS day FROM iv
  UNION
  SELECT DISTINCT end_d FROM iv
)
SELECT d.day,
       CAST((SELECT COUNT(*) FROM iv
             WHERE iv.start_d <= d.day AND iv.end_d > d.day) AS BIGINT)
         AS open_items
FROM days d
"""


# --------------------------------------------------------------------
# Event path trigrams
# --------------------------------------------------------------------


def event_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top event-type paths of length 3 per user timeline (double-lead
    window over (user, ts, event_id) — the path-mining extension of the
    first-order transition matrix, still one shuffle and zero
    self-joins). Ties on timestamps are broken by event_id in both
    engines."""
    events = load_table(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull()
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    path = events.select(
        F.col("event_type").alias("e1"),
        F.lead("event_type", 1).over(w).alias("e2"),
        F.lead("event_type", 2).over(w).alias("e3"),
    ).where(F.col("e3").isNotNull())
    return path.groupBy("e1", "e2", "e3").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )


TRIGRAM_ORACLE = """
WITH seq AS (
  SELECT event_type AS e1,
         LEAD(event_type, 1) OVER w AS e2,
         LEAD(event_type, 2) OVER w AS e3
  FROM events WHERE user_id IS NOT NULL
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT e1, e2, e3, CAST(COUNT(*) AS BIGINT) AS n
FROM seq WHERE e3 IS NOT NULL
GROUP BY e1, e2, e3
"""

EXTRA_QUERIES["backlog_open_lineitems"] = backlog_open_lineitems
EXTRA_ORACLES["backlog_open_lineitems"] = BACKLOG_ORACLE
EXTRA_QUERIES["event_trigrams"] = event_trigrams
EXTRA_ORACLES["event_trigrams"] = TRIGRAM_ORACLE


# --------------------------------------------------------------------
# Lorenz curve (spend inequality deciles)
# --------------------------------------------------------------------


def lorenz_customer_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lorenz curve of customer spend in deciles: customers ranked by
    total spend ascending (ties broken by key so ntile assignment is
    engine-identical), each decile's share and cumulative share of
    total spend — "the bottom 50 % of customers hold X % of revenue",
    the inequality view the Gini in skew_profile_orders summarizes to
    one number. Corpus reduces to per-customer decimal spend; the
    customer grain is corpus-proportional (~10^8 at 100 TB), so the
    decile assignment runs through the two-pass range-partitioned
    ranking operator (operators/ranking.py) — exact ntile(10) replayed
    from the global rank, NO single-partition sort; the 10-row decile
    frame's cumulative window is bounded-grain."""
    from ..operators.ranking import ntile_from_rank, with_rank

    orders = load_table(spark, sf_dir, "orders")
    per_cust = orders.groupBy("o_custkey").agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,4)")).alias("spend")
    )
    ranked, parts = with_rank(
        per_cust, [], ["spend", "o_custkey"], rank_col="i",
        cum_cols=["spend"],
    )
    n_cust = sum(p["cnt"] for p in parts)
    deciled = ranked.withColumn(
        "decile", ntile_from_rank(F.col("i"), n_cust, 10)
    )
    per_dec = deciled.groupBy("decile").agg(
        F.count(F.lit(1)).cast("long").alias("n_customers"),
        F.sum("spend").alias("spend"),
    )
    # total spend: exact decimal scalar from the same bounded offset
    # scan (decimal addition is exact — identical to an engine-side
    # global sum), broadcast as a literal instead of a global window.
    total_spend = sum(p["sum"]["spend"] for p in parts)
    total = F.lit(str(total_spend)).cast("decimal(38,4)")
    w_cum = Window.orderBy("decile").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )  # bounded grain: exactly 10 decile rows
    share = F.col("spend").cast("double") / total.cast("double")
    cum_share = (
        F.sum("spend").over(w_cum).cast("double") / total.cast("double")
    )
    return per_dec.select(
        F.col("decile").cast("int").alias("decile"),
        "n_customers",
        F.round(share, 6).alias("spend_share"),
        F.round(cum_share, 6).alias("cum_spend_share"),
    )


LORENZ_ORACLE = """
WITH per_cust AS (
  SELECT o_custkey, SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS spend
  FROM orders GROUP BY o_custkey
), ranked AS (
  SELECT spend,
         ntile(10) OVER (ORDER BY spend ASC, o_custkey ASC) AS decile
  FROM per_cust
), per_dec AS (
  SELECT decile, CAST(COUNT(*) AS BIGINT) AS n_customers,
         SUM(spend) AS spend
  FROM ranked GROUP BY decile
)
SELECT CAST(decile AS INTEGER) AS decile,
       n_customers,
       ROUND(CAST(spend AS DOUBLE) / CAST(SUM(spend) OVER () AS DOUBLE), 6)
         AS spend_share,
       ROUND(CAST(SUM(spend) OVER (ORDER BY decile
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
             / CAST(SUM(spend) OVER () AS DOUBLE), 6) AS cum_spend_share
FROM per_dec
"""

EXTRA_QUERIES["lorenz_customer_spend"] = lorenz_customer_spend
EXTRA_ORACLES["lorenz_customer_spend"] = LORENZ_ORACLE
