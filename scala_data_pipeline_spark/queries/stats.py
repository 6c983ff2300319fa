"""Statistical aggregates batch: exact interpolated percentiles,
argmin/argmax (min_by/max_by), and moment statistics computed from
order-independent decimal sums (variance/stddev derived as
(Σx² − (Σx)²/n)/(n−1) over dsum'd pieces, so the result is
partitioning-invariant and oracle-exact — a plain F.stddev would be
float-order-dependent)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..ext.util import (
    fan_out,
    keyed_md5,
    keyed_md5_sql,
    md5_uniform,
    md5_uniform_sql,
)
from ..functions.numeric import dsum, dsum_sql
from ..sources import load_table


def percentile_prices(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = load_table(spark, sf_dir, "lineitem")
    return lineitem.groupBy("l_returnflag").agg(
        F.round(F.expr("percentile(l_extendedprice, 0.5)"), 4).alias("p50"),
        F.round(F.expr("percentile(l_extendedprice, 0.9)"), 4).alias("p90"),
        F.round(F.expr("percentile(l_extendedprice, 0.99)"), 4).alias("p99"),
    )


PERCENTILE_ORACLE = """
SELECT l_returnflag,
       ROUND(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
       ROUND(quantile_cont(l_extendedprice, 0.9), 4) AS p90,
       ROUND(quantile_cont(l_extendedprice, 0.99), 4) AS p99
FROM lineitem
GROUP BY l_returnflag
"""


def minmax_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per order-status: the orderkey of the cheapest and priciest order
    (argmin/argmax). Tie-safe because o_totalprice ties are broken by
    taking min/max orderkey over the tied set via a two-level agg."""
    orders = load_table(spark, sf_dir, "orders")
    extremes = orders.groupBy(
        F.col("o_orderstatus").alias("status")
    ).agg(
        F.min("o_totalprice").alias("min_price"),
        F.max("o_totalprice").alias("max_price"),
    )
    lo = (
        orders.join(
            extremes,
            (F.col("o_orderstatus") == F.col("status"))
            & (F.col("o_totalprice") == F.col("min_price")),
        )
        .groupBy("status")
        .agg(F.min("o_orderkey").alias("cheapest_order"))
    )
    hi = (
        orders.join(
            extremes,
            (F.col("o_orderstatus") == F.col("status"))
            & (F.col("o_totalprice") == F.col("max_price")),
        )
        .groupBy("status")
        .agg(F.min("o_orderkey").alias("priciest_order"))
    )
    return lo.join(hi, on="status")


MINMAX_BY_ORACLE = """
WITH ext AS (
  SELECT o_orderstatus, MIN(o_totalprice) AS min_price, MAX(o_totalprice) AS max_price
  FROM orders GROUP BY 1
), lo AS (
  SELECT e.o_orderstatus AS status, MIN(o.o_orderkey) AS cheapest_order
  FROM orders o JOIN ext e
    ON o.o_orderstatus = e.o_orderstatus AND o.o_totalprice = e.min_price
  GROUP BY 1
), hi AS (
  SELECT e.o_orderstatus AS status, MIN(o.o_orderkey) AS priciest_order
  FROM orders o JOIN ext e
    ON o.o_orderstatus = e.o_orderstatus AND o.o_totalprice = e.max_price
  GROUP BY 1
)
SELECT lo.status, lo.cheapest_order, hi.priciest_order
FROM lo JOIN hi USING (status)
"""


def variance_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = load_table(spark, sf_dir, "lineitem")
    agg = lineitem.groupBy("l_linestatus").agg(
        dsum(F.col("l_quantity")).alias("s"),
        dsum(F.col("l_quantity") * F.col("l_quantity")).alias("ss"),
        F.count(F.lit(1)).alias("n"),
    )
    # try_divide: a single-row group has n-1 = 0, and ANSI mode (Spark 4
    # default) turns that division into a runtime error; sample variance
    # of one observation is genuinely undefined → null.
    var = F.try_divide(
        F.col("ss") - F.col("s") * F.col("s") / F.col("n"), F.col("n") - 1
    )
    return agg.select(
        "l_linestatus",
        "n",
        F.round(var, 6).alias("var_qty"),
        F.round(F.sqrt(var), 6).alias("stddev_qty"),
    )


VARIANCE_ORACLE = f"""
WITH agg AS (
  SELECT l_linestatus,
         {dsum_sql('l_quantity')} AS s,
         {dsum_sql('l_quantity * l_quantity')} AS ss,
         COUNT(*) AS n
  FROM lineitem GROUP BY 1
)
SELECT l_linestatus, n,
       ROUND((ss - s * s / n) / NULLIF(n - 1, 0), 6) AS var_qty,
       ROUND(sqrt((ss - s * s / n) / NULLIF(n - 1, 0)), 6) AS stddev_qty
FROM agg
"""


# profile_orders is registered below, after its definition.
QUERIES = {}

ORACLES = {}



def histogram_prices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram of part retail prices — the profiling
    primitive. Bucket index computed with explicit arithmetic (identical
    IEEE ops in the oracle) instead of width_bucket, whose edge handling
    differs across engines. One aggregation, map-side partial."""
    lo, hi, n = 900.0, 2000.0, 11
    part = load_table(spark, sf_dir, "part")
    width = (hi - lo) / n
    bucket = F.least(
        F.greatest(
            F.floor((F.col("p_retailprice") - lo) / width) + 1, F.lit(1)
        ),
        F.lit(n),
    )
    return (
        part.groupBy(bucket.cast("long").alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.round(F.min("p_retailprice"), 2).alias("lo_price"),
            F.round(F.max("p_retailprice"), 2).alias("hi_price"),
        )
    )


HISTOGRAM_ORACLE = """
SELECT CAST(least(greatest(floor((p_retailprice - 900.0) / ((2000.0 - 900.0) / 11)) + 1, 1), 11) AS BIGINT) AS bucket,
       COUNT(*) AS cnt,
       ROUND(MIN(p_retailprice), 2) AS lo_price,
       ROUND(MAX(p_retailprice), 2) AS hi_price
FROM part
GROUP BY 1
"""

EXTRA_QUERIES = {
    "histogram_prices": histogram_prices,
    "minmax_by": minmax_by,
    "variance_stats": variance_stats,
    "percentile_prices": percentile_prices,
}
EXTRA_ORACLES = {
    "histogram_prices": HISTOGRAM_ORACLE,
    "minmax_by": MINMAX_BY_ORACLE,
    "variance_stats": VARIANCE_ORACLE,
    "percentile_prices": PERCENTILE_ORACLE,
}


def correlation_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation + sample covariance from exact decimal sums
    (same partitioning-invariance contract as variance_stats): built-in
    corr()/covar_samp() stream doubles in task order and are not
    reproducible across partitionings."""
    lineitem = load_table(spark, sf_dir, "lineitem")
    x, y = F.col("l_quantity"), F.col("l_extendedprice")
    agg = lineitem.groupBy("l_linestatus").agg(
        dsum(x).alias("sx"),
        dsum(y).alias("sy"),
        dsum(x * x).alias("sxx"),
        dsum(y * y).alias("syy"),
        dsum(x * y).alias("sxy"),
        F.count(F.lit(1)).alias("n"),
    )
    n = F.col("n")
    cov = F.try_divide(
        F.col("sxy") - F.col("sx") * F.col("sy") / n, n - 1
    )
    corr = F.try_divide(
        n * F.col("sxy") - F.col("sx") * F.col("sy"),
        F.sqrt(
            (n * F.col("sxx") - F.col("sx") * F.col("sx"))
            * (n * F.col("syy") - F.col("sy") * F.col("sy"))
        ),
    )
    return agg.select(
        "l_linestatus",
        "n",
        F.round(cov, 4).alias("cov_qty_price"),
        F.round(corr, 6).alias("corr_qty_price"),
    )


CORRELATION_ORACLE = f"""
WITH agg AS (
  SELECT l_linestatus,
         {dsum_sql('l_quantity')} AS sx,
         {dsum_sql('l_extendedprice')} AS sy,
         {dsum_sql('l_quantity * l_quantity')} AS sxx,
         {dsum_sql('l_extendedprice * l_extendedprice')} AS syy,
         {dsum_sql('l_quantity * l_extendedprice')} AS sxy,
         COUNT(*) AS n
  FROM lineitem GROUP BY 1
)
SELECT l_linestatus, n,
       ROUND((sxy - sx * sy / n) / NULLIF(n - 1, 0), 4) AS cov_qty_price,
       ROUND((n * sxy - sx * sy)
             / NULLIF(sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)), 0), 6)
         AS corr_qty_price
FROM agg
"""

EXTRA_QUERIES["correlation_stats"] = correlation_stats
EXTRA_ORACLES["correlation_stats"] = CORRELATION_ORACLE


def approx_percentile_prices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-based percentiles (Greenwald-Khanna): the at-scale
    companion to the exact interpolated percentile — single pass,
    mergeable state, bounded error. Engine-specific estimates, so no
    value oracle; the RANK-error contract (<= n/accuracy) is asserted
    against exact DuckDB order statistics in
    tests/test_oracle_parity.py."""
    lineitem = load_table(spark, sf_dir, "lineitem")
    return lineitem.groupBy("l_linestatus").agg(
        F.approx_percentile("l_extendedprice", [0.5, 0.9], 1000).alias(
            "approx_p50_p90"
        )
    ).select(
        "l_linestatus",
        F.col("approx_p50_p90")[0].alias("approx_p50"),
        F.col("approx_p50_p90")[1].alias("approx_p90"),
    )


EXTRA_QUERIES["approx_percentile_prices"] = approx_percentile_prices


def winsorize_prices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorization: clip values to their group's [p05, p95] — the
    outlier treatment applied before training on heavy-tailed numerics.

    Exact interpolated percentiles compute on the range-partitioned
    grouped-rank machinery (operators/ranking.py::with_rank —
    the same scheme weighted_median_prices uses): the (group, price)
    value grain carries count weights and exact running counts, and the
    percentile is the standard weighted interpolation
    ``v[FRN]*(CRN-RN) + v[CRN]*(RN-FRN)`` at RN = (n-1)*p — double-for-
    double the formula both Spark's ``percentile`` and DuckDB's
    ``quantile_cont`` implement, so the oracle stays hash-exact. A
    single ``F.percentile`` agg would hold each group's full
    distinct-value histogram in ONE aggregation buffer (bounded by
    distinct cent values, but the 100 TB memory ceiling); here no task
    ever sees more than its contiguous price range, and the driver-side
    offset collect stays bounded by partitions x groups. The clip is a
    broadcast join back + clamp (no second wide shuffle)."""
    import math

    from ..operators.ranking import crossing_pids, with_rank

    lineitem = load_table(spark, sf_dir, "lineitem")
    grain = lineitem.groupBy(
        "l_linestatus", F.col("l_extendedprice").alias("price")
    ).agg(F.count(F.lit(1)).alias("w"))
    ranked, parts = with_rank(
        grain, ["l_linestatus"], ["price"], rank_col="_i", cum_cols=["w"]
    )
    # Percentile partition pruning: the offset scan
    # already knows which range partition holds each percentile's
    # weighted position — vlo/vhi below read only the FIRST row whose
    # running count reaches floor(rn)+1 / ceil(rn)+1, and every later
    # partition holds strictly larger prices, so the bounds aggregation
    # needs just the crossing partitions (≤4 per group of the full
    # range-partitioned grain). The rn arithmetic replays the column
    # expression below in IEEE doubles, so the positions agree exactly.
    positions: dict[tuple, list[int]] = {}
    totals: dict[tuple, int] = {}
    for prt in parts:
        totals[prt["group"]] = totals.get(prt["group"], 0) + int(
            prt["sum"]["w"]
        )
    for g, tw in totals.items():
        pos: set[int] = set()
        for p in (0.05, 0.95):
            rn = (float(tw) - 1.0) * p
            pos.update((math.floor(rn) + 1, math.ceil(rn) + 1))
        positions[g] = sorted(pos)
    keep = sorted(crossing_pids(parts, "w", positions))
    ranked = ranked.filter(F.col("_pid").isin(keep)).drop("_pid")
    for tag, p in (("05", 0.05), ("95", 0.95)):
        ranked = ranked.withColumn(
            f"rn{tag}",
            (F.col("total_w").cast("double") - F.lit(1.0)) * F.lit(p),
        )

    def pct(tag: str):
        rn = F.min(f"rn{tag}")
        frn, crn = F.floor(rn), F.ceil(rn)
        # 0-based index k -> the min price whose running count reaches
        # the 1-based position k+1 (prices ascend within the group).
        vlo = F.min(
            F.when(
                F.col("cum_w") >= F.floor(F.col(f"rn{tag}")) + 1,
                F.col("price"),
            )
        )
        vhi = F.min(
            F.when(
                F.col("cum_w") >= F.ceil(F.col(f"rn{tag}")) + 1,
                F.col("price"),
            )
        )
        return F.round(
            F.when(crn == frn, vlo).otherwise(
                vlo * (crn.cast("double") - rn)
                + vhi * (rn - frn.cast("double"))
            ),
            4,
        )

    bounds = ranked.groupBy("l_linestatus").agg(
        pct("05").alias("lo"), pct("95").alias("hi")
    )
    clipped = lineitem.join(F.broadcast(bounds), on="l_linestatus").select(
        "l_linestatus",
        F.least(
            F.greatest(F.col("l_extendedprice"), F.col("lo")), F.col("hi")
        ).alias("clipped"),
    )
    return clipped.groupBy("l_linestatus").agg(
        F.count(F.lit(1)).alias("n"),
        dsum(F.col("clipped")).alias("sum_clipped"),
        F.round(F.min("clipped"), 4).alias("min_clipped"),
        F.round(F.max("clipped"), 4).alias("max_clipped"),
    )


WINSORIZE_ORACLE = f"""
WITH bounds AS (
  SELECT l_linestatus,
         ROUND(quantile_cont(l_extendedprice, 0.05), 4) AS lo,
         ROUND(quantile_cont(l_extendedprice, 0.95), 4) AS hi
  FROM lineitem GROUP BY l_linestatus
), clipped AS (
  SELECT l.l_linestatus,
         LEAST(GREATEST(l.l_extendedprice, b.lo), b.hi) AS clipped
  FROM lineitem l JOIN bounds b USING (l_linestatus)
)
SELECT l_linestatus,
       COUNT(*) AS n,
       {dsum_sql('clipped')} AS sum_clipped,
       ROUND(MIN(clipped), 4) AS min_clipped,
       ROUND(MAX(clipped), 4) AS max_clipped
FROM clipped GROUP BY l_linestatus
"""

QUERIES["winsorize_prices"] = winsorize_prices
ORACLES["winsorize_prices"] = WINSORIZE_ORACLE


def profile_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-pass column profile of the orders table (nulls, exact
    distincts, numeric/timestamp min-max)."""
    from ..operators.profile import profile_table

    return profile_table(load_table(spark, sf_dir, "orders"))


def _profile_oracle() -> str:
    from ..operators.profile import profile_table_sql

    return profile_table_sql(
        "orders",
        [
            ("o_orderkey", "num"),
            ("o_custkey", "num"),
            ("o_orderstatus", "str"),
            ("o_totalprice", "num"),
            ("o_orderdate", "ts"),
            ("o_orderpriority", "str"),
        ],
    )


EXTRA_QUERIES["profile_orders"] = profile_orders
EXTRA_ORACLES["profile_orders"] = _profile_oracle()


def event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markov next-event transition matrix: P(next event type | current)
    per user timeline — the behavior-model shape (what follows a view?).

    One window pass (lead over the user's ts-ordered stream; event_id
    tiebreak makes simultaneous events deterministic) feeding one
    aggregation — two shuffles total, both on uniform keys, no
    self-join (the naive formulation joins events to events on
    adjacent rank, shuffling the fact table twice more).
    """
    from pyspark.sql import Window

    events = load_table(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull()
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    steps = events.withColumn(
        "next_type", F.lead("event_type").over(w)
    ).filter(F.col("next_type").isNotNull())
    counts = steps.groupBy(
        F.col("event_type").alias("cur_type"), "next_type"
    ).agg(F.count(F.lit(1)).alias("n_transitions"))
    per_cur = Window.partitionBy("cur_type")
    return counts.withColumn(
        "p_next",
        F.round(
            F.col("n_transitions") / F.sum("n_transitions").over(per_cur), 6
        ),
    )


# SUM over the window is cast to BIGINT (DuckDB widens to HUGEINT) and
# the division to DOUBLE on both engines before the 6-dp round.
EVENT_TRANSITIONS_ORACLE = """
WITH steps AS (
  SELECT event_type AS cur_type,
         LEAD(event_type) OVER (
           PARTITION BY user_id ORDER BY ts, event_id) AS next_type
  FROM events WHERE user_id IS NOT NULL
), counts AS (
  SELECT cur_type, next_type, COUNT(*) AS n_transitions
  FROM steps WHERE next_type IS NOT NULL
  GROUP BY cur_type, next_type
)
SELECT cur_type, next_type, n_transitions,
       ROUND(CAST(n_transitions AS DOUBLE) /
             CAST(SUM(n_transitions) OVER (PARTITION BY cur_type) AS BIGINT),
             6) AS p_next
FROM counts
"""

EXTRA_QUERIES["event_transitions"] = event_transitions
EXTRA_ORACLES["event_transitions"] = EVENT_TRANSITIONS_ORACLE


def histogram_equidepth_prices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth (equal-height) histogram of order totals — the
    optimizer-statistics companion to histogram_prices' fixed-width
    buckets: bucket(v) = ceil(ECDF(v)·10), assigned on the DISTINCT
    cent-price grain (bounded domain, the ks_value_drift precedent),
    so no per-row global sort ever happens; ties land whole in one
    bucket (the standard equi-depth-on-duplicates semantics). Output:
    bucket, row count, value range — near-equal counts up to tie
    granularity.
    """
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    orders = load_table(spark, sf_dir, "orders")
    grain = orders.groupBy(
        F.col("o_totalprice").cast("decimal(18,2)").alias("v")
    ).agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    w_cum = Window.orderBy("v").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    tot = Window.partitionBy()
    ecdf = F.sum("cnt").over(w_cum).cast("double") / F.sum("cnt").over(
        tot
    ).cast("double")
    bucketed = grain.select(
        F.least(F.ceil(ecdf * 10), F.lit(10)).cast("int").alias("bucket"),
        "v",
        "cnt",
    )
    return bucketed.groupBy("bucket").agg(
        F.sum("cnt").cast("long").alias("n_orders"),
        F.min("v").cast("double").alias("lo"),
        F.max("v").cast("double").alias("hi"),
    )


HISTOGRAM_EQUIDEPTH_ORACLE = """
WITH grain AS (
  SELECT CAST(o_totalprice AS DECIMAL(18,2)) AS v,
         CAST(COUNT(*) AS BIGINT) AS cnt
  FROM orders GROUP BY 1
), bucketed AS (
  SELECT LEAST(CAST(CEIL(
           CAST(SUM(cnt) OVER (ORDER BY v
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
           / CAST(SUM(cnt) OVER () AS DOUBLE) * 10) AS INTEGER), 10)
           AS bucket,
         v, cnt
  FROM grain
)
SELECT bucket,
       CAST(SUM(cnt) AS BIGINT) AS n_orders,
       CAST(MIN(v) AS DOUBLE) AS lo,
       CAST(MAX(v) AS DOUBLE) AS hi
FROM bucketed GROUP BY bucket
"""

EXTRA_QUERIES["histogram_equidepth_prices"] = histogram_equidepth_prices
EXTRA_ORACLES["histogram_equidepth_prices"] = HISTOGRAM_EQUIDEPTH_ORACLE


def skewsafe_nation_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-mitigated join, oracle-checked end-to-end: the
    orders⋈customer join keyed on c_nationkey is the classic hot-key
    shape (every nation is a huge key group); this runs it through
    operators/skew.py::adaptive_salted_join — frequency profile, hot
    keys salted over 8 sub-keys, cold keys untouched — and aggregates
    to per-nation revenue. Salting changes the PHYSICAL distribution
    only: the result must equal the plain join, which is exactly what
    the DuckDB oracle computes (cross-algorithm check)."""
    from ..operators.skew import adaptive_salted_join

    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey"), F.col("c_nationkey")
    )
    big = orders.join(
        customer, orders.o_custkey == customer.c_custkey
    ).select("c_nationkey", "o_totalprice")
    nation = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("c_nationkey"),
        F.col("n_name").alias("nation"),
    )
    # every nation key exceeds the threshold at sf>=0.001 → all hot,
    # genuinely salted; threshold kept low deliberately
    joined = adaptive_salted_join(
        big, nation, key="c_nationkey", hot_threshold=10, n_salts=8
    )
    return joined.groupBy("nation").agg(
        F.sum(
            F.col("o_totalprice").cast("decimal(18,4)")
        ).cast("double").alias("revenue"),
        F.count(F.lit(1)).cast("long").alias("n_orders"),
    )


SKEWSAFE_ORACLE = """
SELECT n_name AS nation,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
         AS revenue,
       CAST(COUNT(*) AS BIGINT) AS n_orders
FROM orders
JOIN customer ON c_custkey = o_custkey
JOIN nation ON n_nationkey = c_nationkey
GROUP BY n_name
"""

EXTRA_QUERIES["skewsafe_nation_revenue"] = skewsafe_nation_revenue
EXTRA_ORACLES["skewsafe_nation_revenue"] = SKEWSAFE_ORACLE


def chi2_lang_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-squared test of independence between the two categorical
    curation axes of the corpus (``lang`` x ``source``) plus Cramér's V
    effect size — the "is my source mix language-balanced?"
    audit a pretraining recipe runs before fixing per-source quotas.

    Plan shape: ONE corpus scan aggregated straight to the bounded
    (lang x source) contingency grain (~5 x ~20 cells, map-side
    combinable longs); marginals, N and the dense expected grid all
    derive from that pinned tiny frame (cross join of the two marginal
    frames is bounded |langs| x |sources| — absent cells carry O=0 but
    E>0 and must contribute). Per-cell (O-E)^2/E contributions round to
    8 decimals and sum as exact decimals (order-independent), chi2 and
    V round to 6 — the repo's float-exactness convention. Scale: the
    corpus is touched once; everything after is constant-size.
    """
    docs = load_table(spark, sf_dir, "documents")
    cells = docs.groupBy("lang", "source").agg(
        F.count(F.lit(1)).cast("long").alias("o")
    ).localCheckpoint(eager=True)  # pinned: 4 derivations below reuse it
    rows = cells.groupBy("lang").agg(F.sum("o").cast("long").alias("rl"))
    cols = cells.groupBy("source").agg(
        F.sum("o").cast("long").alias("cs")
    )
    # Distinct counts as set sizes over the bounded grain: two
    # count_distinct aggregates plan an Expand whose branch order
    # follows the hash of per-build expression ids, so each build could
    # generate different code and miss the codegen cache.
    tot = cells.agg(
        F.sum("o").cast("long").alias("n"),
        F.size(F.collect_set("lang")).cast("long").alias("r"),
        F.size(F.collect_set("source")).cast("long").alias("c"),
    )
    grid = (
        rows.crossJoin(F.broadcast(cols))
        .join(cells, on=["lang", "source"], how="left")
        .crossJoin(F.broadcast(tot))
        .select(
            "r",
            "c",
            "n",
            F.coalesce(F.col("o"), F.lit(0)).cast("double").alias("od"),
            (
                F.col("rl").cast("double")
                * F.col("cs").cast("double")
                / F.col("n").cast("double")
            ).alias("e"),
        )
    )
    # (od-e)*(od-e), not **2: pow(x, 2.0) may differ from x*x in the
    # last ulp and the oracle multiplies
    dev = F.col("od") - F.col("e")
    contrib = dev * dev / F.col("e")
    return (
        grid.groupBy("r", "c", "n")
        .agg(
            F.round(
                F.sum(F.round(contrib, 8).cast("decimal(18,8)")).cast(
                    "double"
                ),
                6,
            ).alias("chi2")
        )
        .select(
            F.col("chi2"),
            ((F.col("r") - 1) * (F.col("c") - 1)).cast("long").alias("dof"),
            # try_divide: a single-lang or single-source corpus makes
            # least(r-1, c-1) zero — NULL V (matching DuckDB's /0)
            # instead of an ANSI throw on a legal degenerate input.
            F.round(
                F.sqrt(
                    F.try_divide(
                        F.col("chi2"),
                        F.col("n").cast("double")
                        * F.least(F.col("r") - 1, F.col("c") - 1).cast(
                            "double"
                        ),
                    )
                ),
                6,
            ).alias("cramers_v"),
            F.col("n").alias("n_docs"),
        )
    )


CHI2_ORACLE = """
WITH cells AS (
  SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS o
  FROM documents GROUP BY 1, 2
), rows_m AS (SELECT lang, SUM(o) AS rl FROM cells GROUP BY 1),
cols_m AS (SELECT source, SUM(o) AS cs FROM cells GROUP BY 1),
tot AS (
  SELECT CAST(SUM(o) AS BIGINT) AS n,
         CAST(COUNT(DISTINCT lang) AS BIGINT) AS r,
         CAST(COUNT(DISTINCT source) AS BIGINT) AS c
  FROM cells
), grid AS (
  SELECT t.r, t.c, t.n,
         CAST(COALESCE(x.o, 0) AS DOUBLE) AS od,
         CAST(rm.rl AS DOUBLE) * CAST(cm.cs AS DOUBLE)
           / CAST(t.n AS DOUBLE) AS e
  FROM rows_m rm CROSS JOIN cols_m cm CROSS JOIN tot t
  LEFT JOIN cells x ON x.lang = rm.lang AND x.source = cm.source
), agg AS (
  SELECT r, c, n,
         ROUND(CAST(SUM(CAST(ROUND((od - e) * (od - e) / e, 8)
                            AS DECIMAL(18,8))) AS DOUBLE), 6) AS chi2
  FROM grid GROUP BY 1, 2, 3
)
SELECT chi2,
       CAST((r - 1) * (c - 1) AS BIGINT) AS dof,
       ROUND(sqrt(chi2 / (CAST(n AS DOUBLE)
                          * CAST(least(r - 1, c - 1) AS DOUBLE))), 6)
         AS cramers_v,
       n AS n_docs
FROM agg
"""

EXTRA_QUERIES["chi2_lang_source"] = chi2_lang_source
EXTRA_ORACLES["chi2_lang_source"] = CHI2_ORACLE


def mutual_info_lang_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information (nats) between ``lang`` and ``source`` plus
    both marginal entropies and normalized MI — the
    information-theoretic twin of :func:`chi2_lang_source`: how much
    knowing a document's source tells you about its language, the
    redundancy number a mixture designer watches when sources are
    near-monolingual.

    Same one-scan shape: the bounded (lang x source) grain is pinned
    once, marginals/N derive from it (sums of longs — exact), and MI
    sums only over OBSERVED cells (0·ln0 = 0 needs no dense grid,
    unlike chi2's E>0 cells). Per-cell p·ln-ratio terms round to 8 and
    sum as decimals; final metrics round to 6. NMI derives from the
    rounded components so both engines agree bit-for-bit.
    """
    docs = load_table(spark, sf_dir, "documents")
    cells = docs.groupBy("lang", "source").agg(
        F.count(F.lit(1)).cast("long").alias("o")
    ).localCheckpoint(eager=True)
    rows = cells.groupBy("lang").agg(F.sum("o").cast("long").alias("rl"))
    cols = cells.groupBy("source").agg(
        F.sum("o").cast("long").alias("cs")
    )
    tot = cells.agg(F.sum("o").cast("long").alias("n"))

    def _entropy(marg: DataFrame, cnt: str, out: str) -> DataFrame:
        p = F.col(cnt).cast("double") / F.col("n").cast("double")
        return (
            marg.crossJoin(F.broadcast(tot))
            .select(
                F.round(-p * F.log(p), 8).cast("decimal(18,8)").alias("t")
            )
            .agg(F.round(F.sum("t").cast("double"), 6).alias(out))
        )
    h_lang = _entropy(rows, "rl", "h_lang")
    h_source = _entropy(cols, "cs", "h_source")
    p_joint = F.col("o").cast("double") / F.col("n").cast("double")
    ratio = (
        F.col("o").cast("double") * F.col("n").cast("double")
        / (F.col("rl").cast("double") * F.col("cs").cast("double"))
    )
    mi = (
        cells.join(rows, on="lang")
        .join(cols, on="source")
        .crossJoin(F.broadcast(tot))
        .select(
            F.round(p_joint * F.log(ratio), 8)
            .cast("decimal(18,8)")
            .alias("t")
        )
        .agg(F.round(F.sum("t").cast("double"), 6).alias("mi_nats"))
    )
    return (
        mi.crossJoin(F.broadcast(h_lang))
        .crossJoin(F.broadcast(h_source))
        .select(
            "mi_nats",
            "h_lang",
            "h_source",
            # try_divide: a single-category axis has entropy exactly 0,
            # so sqrt(h_lang*h_source) is 0 — NULL NMI (the
            # conventional "undefined") matching DuckDB.
            F.round(
                F.try_divide(
                    F.col("mi_nats"),
                    F.sqrt(F.col("h_lang") * F.col("h_source")),
                ),
                6,
            ).alias("nmi"),
        )
    )


MUTUAL_INFO_ORACLE = """
WITH cells AS (
  SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS o
  FROM documents GROUP BY 1, 2
), rows_m AS (SELECT lang, SUM(o) AS rl FROM cells GROUP BY 1),
cols_m AS (SELECT source, SUM(o) AS cs FROM cells GROUP BY 1),
tot AS (SELECT CAST(SUM(o) AS BIGINT) AS n FROM cells),
hl AS (
  SELECT ROUND(CAST(SUM(CAST(ROUND(
             -(CAST(rl AS DOUBLE) / n) * ln(CAST(rl AS DOUBLE) / n), 8)
           AS DECIMAL(18,8))) AS DOUBLE), 6) AS h_lang
  FROM rows_m CROSS JOIN tot
), hs AS (
  SELECT ROUND(CAST(SUM(CAST(ROUND(
             -(CAST(cs AS DOUBLE) / n) * ln(CAST(cs AS DOUBLE) / n), 8)
           AS DECIMAL(18,8))) AS DOUBLE), 6) AS h_source
  FROM cols_m CROSS JOIN tot
), mi AS (
  SELECT ROUND(CAST(SUM(CAST(ROUND(
             (CAST(o AS DOUBLE) / n)
             * ln(CAST(o AS DOUBLE) * CAST(n AS DOUBLE)
                  / (CAST(rl AS DOUBLE) * CAST(cs AS DOUBLE))), 8)
           AS DECIMAL(18,8))) AS DOUBLE), 6) AS mi_nats
  FROM cells
  JOIN rows_m USING (lang)
  JOIN cols_m USING (source)
  CROSS JOIN tot
)
SELECT mi_nats, h_lang, h_source,
       ROUND(mi_nats / sqrt(h_lang * h_source), 6) AS nmi
FROM mi CROSS JOIN hl CROSS JOIN hs
"""

EXTRA_QUERIES["mutual_info_lang_source"] = mutual_info_lang_source
EXTRA_ORACLES["mutual_info_lang_source"] = MUTUAL_INFO_ORACLE


BOUNDS = {
    "approx_percentile_prices": (
        "tests/test_properties.py::test_approx_percentile_error_bound"
        " — each approximate percentile within rank-error of exact"
    ),
}


# ---------------------------------------------------------------------------
# Poisson bootstrap: uncertainty for massive data in ONE pass
# ---------------------------------------------------------------------------

# Poisson(1) CDF at k = 0..7 (inverse-transform thresholds). Literal
# doubles, identical in the DuckDB twin, so the k decision is the same
# branch in both engines; draws land above CDF(7) with p ~ 1e-5 and are
# capped at k = 8 — the SAME truncation on both sides.
_POIS1_CDF = (
    0.36787944117144233,
    0.7357588823428847,
    0.9196986029286058,
    0.9810118431238462,
    0.9963401531726563,
    0.9994058151824183,
    0.9999167588507119,
    0.9999897508033253,
)


def _pois1_draw(u):
    """Poisson(1) inverse CDF as a literal CASE chain over ``u``."""
    k = F.lit(8)
    for i in range(len(_POIS1_CDF) - 1, -1, -1):
        k = F.when(u < F.lit(_POIS1_CDF[i]), i).otherwise(k)
    return k


def _pois1_draw_sql(u: str) -> str:
    whens = " ".join(
        f"WHEN {u} < {c!r} THEN {i}" for i, c in enumerate(_POIS1_CDF)
    )
    return f"(CASE {whens} ELSE 8 END)"


def poisson_bootstrap_ci(
    df: DataFrame, value_col: str, group_cols: list[str], key_col: str
) -> DataFrame:
    """Percentile-bootstrap CI for the per-group MEAN via the Poisson
    bootstrap (Chamandy et al. 2012, "Estimating Uncertainty for
    Massive Data Streams" — the resampling scheme that works in one
    pass over data too large to index): instead of drawing n rows with
    replacement per replicate (which needs global coordination), each
    row independently contributes Poisson(1) copies to each of the
    100 replicates. Made deterministic with the house
    md5-uniform over (row key, replicate id), so the same corpus
    yields the same CI under any partitioning — and the DuckDB twin is
    exact, branch for branch.

    Scale shape: the explode to (row x 100) is MAP-SIDE ONLY —
    partial aggregation collapses it to (group x 100) partial sums
    before the one shuffle, so shuffled rows are bounded by the group
    count times 100 regardless of corpus size. Replicate sums
    are exact DECIMAL (order-independent, the dsum house rule); only
    the final mean and percentile interpolation are float, computed
    identically in both engines.
    """
    # fan_out: a single-row-group scan would run the whole
    # (rows x 100) explode + md5 pipeline on ONE task — measured
    # 30.9 s for 150k x 100 at sf0.1; parallel + the _u fix below it
    # is ~1.5 s. No-op on multi-partition inputs (the 100 TB case).
    b = F.explode(F.sequence(F.lit(0), F.lit(99))).alias("b")
    long = fan_out(df).select(
        *group_cols,
        F.col(key_col).cast("string").alias("_k"),
        F.col(value_col).cast("decimal(18,2)").alias("_v"),
        b,
    )
    u = md5_uniform(
        keyed_md5(F.concat("_k", F.lit(":"), F.col("b").cast("string")), "")
    )
    # Materialize the md5-uniform ONCE per row in a projection: inlining
    # ``u`` into the 9-branch Poisson CASE chain re-evaluates the
    # md5+conv per branch (no CSE across WHEN conditions — measured
    # 1.7x slower end-to-end).
    reps = long.withColumn("_u", u).select(
        *group_cols, "b", "_v", _pois1_draw(F.col("_u")).alias("_cnt")
    )
    agg = reps.groupBy(*group_cols, "b").agg(
        F.sum(F.col("_cnt") * F.col("_v")).alias("_s"),
        F.sum("_cnt").cast("long").alias("_n"),
    )
    means = agg.select(
        *group_cols,
        F.try_divide(F.col("_s").cast("double"), F.col("_n")).alias("_m"),
    )
    lo, hi = 0.025, 0.975
    return means.groupBy(*group_cols).agg(
        F.round(F.expr(f"percentile(_m, {lo!r})"), 4).alias("ci_lo"),
        F.round(F.expr("percentile(_m, 0.5)"), 4).alias("boot_median"),
        F.round(F.expr(f"percentile(_m, {hi!r})"), 4).alias("ci_hi"),
        F.count(F.lit(1)).cast("long").alias("n_replicates"),
    )


def bootstrap_ci_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson-bootstrap 95% CI of mean order value per order priority
    (5 groups x 100 replicates; deterministic md5 draws)."""
    return poisson_bootstrap_ci(
        load_table(spark, sf_dir, "orders"),
        value_col="o_totalprice",
        group_cols=["o_orderpriority"],
        key_col="o_orderkey",
    )


def _bootstrap_ci_sql() -> str:
    u = md5_uniform_sql(
        keyed_md5_sql(
            "CAST(o_orderkey AS VARCHAR) || ':' || CAST(t.b AS VARCHAR)", ""
        )
    )
    lo, hi = 0.025, 0.975
    return f"""
WITH reps AS (
  SELECT o_orderpriority, t.b AS b,
         {_pois1_draw_sql(u)} AS cnt,
         CAST(o_totalprice AS DECIMAL(18,2)) AS v
  FROM orders, (SELECT unnest(range(100)) AS b) t
), agg AS (
  SELECT o_orderpriority, b,
         CAST(SUM(cnt * v) AS DOUBLE) AS s,
         CAST(SUM(cnt) AS BIGINT) AS n
  FROM reps GROUP BY 1, 2
), means AS (
  SELECT o_orderpriority, s / NULLIF(n, 0) AS m FROM agg
)
SELECT o_orderpriority,
       ROUND(quantile_cont(m, {lo!r}), 4) AS ci_lo,
       ROUND(quantile_cont(m, 0.5), 4) AS boot_median,
       ROUND(quantile_cont(m, {hi!r}), 4) AS ci_hi,
       CAST(COUNT(*) AS BIGINT) AS n_replicates
FROM means GROUP BY 1
"""


QUERIES["bootstrap_ci_revenue"] = bootstrap_ci_revenue
ORACLES["bootstrap_ci_revenue"] = _bootstrap_ci_sql()
