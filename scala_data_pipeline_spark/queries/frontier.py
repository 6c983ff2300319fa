"""Frontier / layout / data-quality analytics.

Three operator families a 100 TB lakehouse pipeline needs that the
registry lacked:

- **Pareto skyline** (`skyline_parts`): the per-category price/size
  efficiency frontier. The naive form is an O(n²) dominance self-join;
  the Spark form here is a sort-based sweep — one per-price-group
  aggregate plus one running-max window inside each brand partition —
  so the work is two bounded shuffles and the window never funnels the
  corpus through one task (it is partitioned by brand; for an
  ungrouped skyline the same sweep runs per coarse price band and the
  band survivors — a tiny set — get one final sweep). The DuckDB twin
  is the textbook NOT EXISTS dominance predicate, a genuinely
  different algorithm, so parity is strong evidence of correctness.
- **Z-order layout** (`layout_zorder`): interleaves the bits of two
  clustering dimensions (customer key × order day) into a Morton code
  so that range predicates on EITHER dimension map to contiguous-ish
  z-ranges. At 100 TB you `repartitionByRange(zval)` before the write
  and parquet row-group min/max stats then skip files for both
  predicates — single-dimension sorting only skips for one. The query
  materializes the per-bucket min/max envelopes (the exact stats the
  scan pruner would use) so the clustering quality is itself an
  oracle-checkable result: both engines compute the identical
  bit-interleave arithmetic.
- **Constraint suite** (`quality_constraints`): Deequ-style data
  quality verification — completeness, key uniqueness, range
  conformance, set membership, freshness — computed in ONE scan of the
  table (a single aggregate row unpivoted to one row per constraint).
  At 100 TB the defining property is that adding a constraint adds a
  column to the aggregate, never a pass over the data. (Uniqueness
  needs a distinct count, which Spark executes as a two-level partial
  aggregate — still one read of the table.)

Reference parity: the reference has no skyline/layout/DQ operators
(647 lines of ETL, SURVEY.md §2); these extend the beyond-reference
surface per SURVEY.md §6. Skyline literature: Börzsönyi et al., "The
Skyline Operator" (ICDE 2001); the partition-then-merge argument is
the standard distributed-skyline decomposition (skylines are
idempotent under union-of-local-skylines).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..ext.util import fan_out, hex_int, hex_int_sql
from ..functions.numeric import dsum, dsum_sql
from ..sources import load_table

QUERIES: dict = {}
ORACLES: dict = {}
EXTRA_QUERIES: dict = {}
EXTRA_ORACLES: dict = {}

# --------------------------------------------------------------------
# Pareto skyline
# --------------------------------------------------------------------


def pareto_frontier(part: DataFrame) -> DataFrame:
    """Frame-level per-brand Pareto sweep (minimize ``p_retailprice``,
    maximize ``p_size``) over any frame with part's columns.

    Sweep formulation (no O(n²) join): collapse to one row per
    (brand, price) carrying the group's max size, take the running max
    of that over strictly-lower prices within the brand, then keep the
    original rows that (a) hold their price group's max size — anything
    smaller is dominated at equal price — and (b) strictly exceed every
    lower price's best size. Exact (price, size) duplicates are all
    kept: neither dominates the other (no strict inequality), matching
    the NOT EXISTS oracle bit for bit.

    Incremental maintenance is free by idempotence: frontier(S ∪ B) =
    frontier(frontier(S) ∪ B), so a maintained frontier only rescans
    the (tiny) stored frontier plus the new batch — never the history.
    Asserted on real data in tests/test_frontier.py.
    """
    # NULL-price rows are excluded up front (round-13 review: they
    # never equi-join back AND sort NULLS FIRST into the running max,
    # polluting run_lt, while the NOT EXISTS oracle kept them — a
    # membership disagreement). Dominance over a NULL dimension is
    # undefined; the oracle mirrors the filter.
    part = part.filter(F.col("p_retailprice").isNotNull())
    per_price = part.groupBy("p_brand", "p_retailprice").agg(
        F.max("p_size").alias("gmax")
    )
    w = (
        Window.partitionBy("p_brand")
        .orderBy("p_retailprice")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    frontier = per_price.withColumn("run_lt", F.max("gmax").over(w))
    return part.join(frontier, ["p_brand", "p_retailprice"]).where(
        (F.col("p_size") == F.col("gmax"))
        & (F.col("run_lt").isNull() | (F.col("p_size") > F.col("run_lt")))
    )


def skyline_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-brand Pareto frontier: parts where no same-brand part is
    both cheaper-or-equal AND larger-or-equal (strict in at least one
    dimension). See :func:`pareto_frontier` for the sweep shape."""
    sky = pareto_frontier(load_table(spark, sf_dir, "part"))
    return sky.select(
        "p_brand",
        F.col("p_partkey").cast("long").alias("p_partkey"),
        F.round("p_retailprice", 2).alias("price"),
        F.col("p_size").cast("int").alias("size"),
    )


SKYLINE_ORACLE = """
SELECT p.p_brand,
       CAST(p.p_partkey AS BIGINT) AS p_partkey,
       ROUND(p.p_retailprice, 2) AS price,
       CAST(p.p_size AS INTEGER) AS size
FROM part p
WHERE p.p_retailprice IS NOT NULL
  AND NOT EXISTS (
  SELECT 1 FROM part q
  WHERE q.p_brand = p.p_brand
    AND q.p_retailprice <= p.p_retailprice
    AND q.p_size >= p.p_size
    AND (q.p_retailprice < p.p_retailprice OR q.p_size > p.p_size)
)
"""

# --------------------------------------------------------------------
# Z-order layout
# --------------------------------------------------------------------

ZBITS = 16  # bits kept per dimension -> 32-bit Morton code
ZBUCKET_SHIFT = 22  # 32-bit z >> 22 = 1024 layout buckets


def _morton_spark(x, y):
    """Interleave the low ZBITS bits of x (even positions) and y (odd
    positions). Pure codegen arithmetic — a sum of disjoint-bit terms,
    no UDF."""
    terms = []
    for i in range(ZBITS):
        terms.append(
            F.shiftleft(F.shiftrightunsigned(x, i).bitwiseAND(F.lit(1)), 2 * i)
        )
        terms.append(
            F.shiftleft(
                F.shiftrightunsigned(y, i).bitwiseAND(F.lit(1)), 2 * i + 1
            )
        )
    z = terms[0]
    for t in terms[1:]:
        z = z + t
    return z


def _morton_sql(x: str, y: str) -> str:
    terms = []
    for i in range(ZBITS):
        terms.append(f"((({x} >> {i}) & 1) << {2 * i})")
        terms.append(f"((({y} >> {i}) & 1) << {2 * i + 1})")
    return " + ".join(terms)


def layout_zorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Morton-code layout envelope stats for orders clustered on
    (o_custkey, order day).

    Computes z = interleave(custkey & 0xFFFF, days-since-epoch &
    0xFFFF), buckets rows by the z-code's high bits (the file a
    range-layout write would place them in), and returns each bucket's
    row count plus min/max envelope on BOTH dimensions — exactly the
    parquet footer stats a scan would prune on. Tight envelopes on both
    axes are the point of z-ordering; a single-column sort gives tight
    envelopes on one axis and full-range envelopes on the other.
    """
    orders = load_table(spark, sf_dir, "orders")
    day = F.datediff(F.col("o_orderdate").cast("date"), F.lit("1970-01-01"))
    xk = F.col("o_custkey").bitwiseAND(F.lit((1 << ZBITS) - 1))
    yk = day.bitwiseAND(F.lit((1 << ZBITS) - 1))
    z = _morton_spark(xk.cast("long"), yk.cast("long"))
    coded = orders.select(
        F.col("o_custkey").cast("long").alias("custkey"),
        day.cast("long").alias("day"),
        z.alias("zval"),
    )
    return (
        coded.groupBy(
            F.shiftrightunsigned("zval", ZBUCKET_SHIFT).alias("bucket")
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.min("custkey").alias("min_custkey"),
            F.max("custkey").alias("max_custkey"),
            F.min("day").alias("min_day"),
            F.max("day").alias("max_day"),
        )
        .select(
            F.col("bucket").cast("long").alias("bucket"),
            "n_rows",
            "min_custkey",
            "max_custkey",
            "min_day",
            "max_day",
        )
    )


_ZMASK = (1 << ZBITS) - 1
LAYOUT_ZORDER_ORACLE = f"""
WITH coded AS (
  SELECT CAST(o_custkey AS BIGINT) AS custkey,
         CAST(datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
              AS BIGINT) AS day,
         ({_morton_sql(f"(o_custkey & {_ZMASK})",
                       f"(datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) & {_ZMASK})")}) AS zval
  FROM orders
)
SELECT CAST(zval >> {ZBUCKET_SHIFT} AS BIGINT) AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       MIN(custkey) AS min_custkey,
       MAX(custkey) AS max_custkey,
       MIN(day) AS min_day,
       MAX(day) AS max_day
FROM coded
GROUP BY 1
"""

# --------------------------------------------------------------------
# Data-quality constraint suite
# --------------------------------------------------------------------

PRICE_LO, PRICE_HI = 0.0, 1_000_000.0
STATUS_SET = ("O", "F", "P")
DATE_LO, DATE_HI = "1992-01-01", "2005-01-01"


def quality_constraints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-scan Deequ-style verification of the orders table.

    Every constraint is a column of one wide aggregate (count /
    conditional-count / distinct-count), then the single result row is
    unpivoted with ``stack`` into (constraint, metric, passed) rows.
    Metrics are 6dp ratios so the oracle comparison is exact.
    """
    orders = load_table(spark, sf_dir, "orders")
    n = F.count(F.lit(1))
    metrics = orders.agg(
        n.alias("n_rows"),
        (F.count("o_orderkey") / n).alias("key_complete"),
        (F.count_distinct(F.col("o_orderkey")) / n).alias("key_unique"),
        (F.count("o_custkey") / n).alias("cust_complete"),
        (
            F.sum(
                F.when(
                    F.col("o_totalprice").between(PRICE_LO, PRICE_HI), 1
                ).otherwise(0)
            )
            / n
        ).alias("price_in_range"),
        (
            F.sum(F.when(F.col("o_orderstatus").isin(*STATUS_SET), 1).otherwise(0))
            / n
        ).alias("status_in_set"),
        (
            F.sum(
                F.when(
                    F.col("o_orderdate").between(DATE_LO, DATE_HI), 1
                ).otherwise(0)
            )
            / n
        ).alias("date_in_range"),
    )
    stacked = metrics.select(
        F.expr(
            "stack(7,"
            " 'row_count_nonzero', CAST(n_rows AS DOUBLE), CAST(n_rows > 0 AS BOOLEAN),"
            " 'orderkey_complete', ROUND(key_complete, 6), key_complete >= 1.0,"
            " 'orderkey_unique', ROUND(key_unique, 6), key_unique >= 1.0,"
            " 'custkey_complete', ROUND(cust_complete, 6), cust_complete >= 1.0,"
            " 'totalprice_in_range', ROUND(price_in_range, 6), price_in_range >= 1.0,"
            " 'orderstatus_in_set', ROUND(status_in_set, 6), status_in_set >= 1.0,"
            " 'orderdate_in_range', ROUND(date_in_range, 6), date_in_range >= 1.0"
            ") AS (constraint, metric, passed)"
        )
    )
    return stacked


QUALITY_CONSTRAINTS_ORACLE = f"""
WITH m AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS n_rows,
         CAST(COUNT(o_orderkey) AS DOUBLE) / COUNT(*) AS key_complete,
         CAST(COUNT(DISTINCT o_orderkey) AS DOUBLE) / COUNT(*) AS key_unique,
         CAST(COUNT(o_custkey) AS DOUBLE) / COUNT(*) AS cust_complete,
         CAST(SUM(CASE WHEN o_totalprice BETWEEN {PRICE_LO} AND {PRICE_HI}
                       THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS price_in_range,
         CAST(SUM(CASE WHEN o_orderstatus IN ('O','F','P')
                       THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS status_in_set,
         CAST(SUM(CASE WHEN o_orderdate >= TIMESTAMP '{DATE_LO} 00:00:00'
                        AND o_orderdate <= TIMESTAMP '{DATE_HI} 00:00:00'
                       THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS date_in_range
  FROM orders
)
SELECT 'row_count_nonzero' AS constraint, n_rows AS metric, n_rows > 0 AS passed FROM m
UNION ALL SELECT 'orderkey_complete', ROUND(key_complete, 6), key_complete >= 1.0 FROM m
UNION ALL SELECT 'orderkey_unique', ROUND(key_unique, 6), key_unique >= 1.0 FROM m
UNION ALL SELECT 'custkey_complete', ROUND(cust_complete, 6), cust_complete >= 1.0 FROM m
UNION ALL SELECT 'totalprice_in_range', ROUND(price_in_range, 6), price_in_range >= 1.0 FROM m
UNION ALL SELECT 'orderstatus_in_set', ROUND(status_in_set, 6), status_in_set >= 1.0 FROM m
UNION ALL SELECT 'orderdate_in_range', ROUND(date_in_range, 6), date_in_range >= 1.0 FROM m
"""

# Round-7 rotation: all three take driver slots (never driver-checked,
# each a distinct plan family: sweep-vs-NOT-EXISTS skyline, bit-
# interleave layout envelope, one-scan DQ suite).
# Round-12 rotation: all three demoted after 5 green driver rounds
# (r7-r11); their slots fund the round-11 DQ audits below.
EXTRA_QUERIES["skyline_parts"] = skyline_parts
EXTRA_ORACLES["skyline_parts"] = SKYLINE_ORACLE
EXTRA_QUERIES["layout_zorder"] = layout_zorder
EXTRA_ORACLES["layout_zorder"] = LAYOUT_ZORDER_ORACLE
EXTRA_QUERIES["quality_constraints"] = quality_constraints
EXTRA_ORACLES["quality_constraints"] = QUALITY_CONSTRAINTS_ORACLE


# --------------------------------------------------------------------
# Order-independent table fingerprint
# --------------------------------------------------------------------

# NULLs serialize as a sentinel because concat_ws SKIPS nulls, which
# would make ('a', NULL, 'b') collide with ('a', 'b', NULL). Printable
# (a NUL byte breaks SQL string literals); collision with real data
# requires a column whose value IS the sentinel.
_NULL_SENTINEL = "<\u0007NULL>"


def table_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content checksum of the orders table: per-row md5 over an
    exactly-specified serialization (keys/strings verbatim, timestamps
    as ISO dates, money as DECIMAL(18,2) strings — formats probed
    identical across engines), folded with an order-independent SUM of
    each hash's first 56 bits. One scan, no sort, partitioning-
    invariant — the cheap way to answer "are these two 100 TB table
    copies identical, and if not, which day's partition drifted" (pair
    it with a GROUP BY partition key for per-partition fingerprints).
    A changed row moves the sum with probability 1 - 2^-56 per
    collision pair; tests/test_frontier.py flips one row and asserts
    the fingerprint moves.
    """
    orders = load_table(spark, sf_dir, "orders")
    return orders.select(orders_row_hash().alias("h")).agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum("h").cast("decimal(38,0)").cast("string").alias("fingerprint"),
    )


def orders_row_hash():
    """The fingerprint's per-row 56-bit hash term — exposed so the
    streaming maintenance path (tests/test_fingerprint_stream.py) sums
    the IDENTICAL expression per micro-batch: the fold is an additive
    decimal sum, so per-batch partials merge to exactly the batch
    fingerprint."""
    ser = F.concat_ws(
        "|",
        *[
            F.coalesce(c, F.lit(_NULL_SENTINEL))
            for c in (
                F.col("o_orderkey").cast("string"),
                F.col("o_custkey").cast("string"),
                F.col("o_orderstatus"),
                F.col("o_totalprice").cast("decimal(18,2)").cast("string"),
                F.col("o_orderdate").cast("date").cast("string"),
                F.col("o_orderpriority"),
            )
        ],
    )
    return hex_int(F.md5(ser), 14).cast("decimal(38,0)")


_FINGERPRINT_SER_SQL = " || '|' || ".join(
    f"COALESCE({c}, '{_NULL_SENTINEL}')"
    for c in (
        "CAST(o_orderkey AS VARCHAR)",
        "CAST(o_custkey AS VARCHAR)",
        "o_orderstatus",
        "CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR)",
        "CAST(CAST(o_orderdate AS DATE) AS VARCHAR)",
        "o_orderpriority",
    )
)

TABLE_FINGERPRINT_ORACLE = f"""
SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(CAST(SUM(h) AS DECIMAL(38,0)) AS VARCHAR) AS fingerprint
FROM (
  SELECT CAST({hex_int_sql(f"md5({_FINGERPRINT_SER_SQL})", 14)}
              AS DECIMAL(38,0)) AS h
  FROM orders
)
"""

# Round-7 driver rotation: promoted (never driver-checked; the
# order-independent md5-fold checksum is exactly the kind of value the
# driver hash is built to catch drifting) in place of pydatasource_agg.
# Round-14: demoted after 6 green rounds; slot funds curation_unimax_alloc.
EXTRA_QUERIES["table_fingerprint"] = table_fingerprint
EXTRA_ORACLES["table_fingerprint"] = TABLE_FINGERPRINT_ORACLE


# --------------------------------------------------------------------
# Blocked fuzzy matching (entity resolution, relational domain)
# --------------------------------------------------------------------

# The prefix length is the SCALE knob, not a tuning detail: blocked ER
# stays linear only while the block-key cardinality grows with the
# corpus. TPC-H names are 'Customer#%09d', so a 14-char prefix pins the
# first 5 digits — at sf0.1 (15k keys) that is ~2 blocks/nation, and
# block POPULATIONS grow linearly with the corpus → candidate pairs
# quadratic (measured: 52.7x wall at 10x data, the one flagged row of
# the first r17 sfx10 run). At 16 chars the key covers all but the last
# 2 digits: block cardinality grows with the key RANGE, populations
# stay ~O(keys per 100-key span / nations), pairs linear. The recall
# trade narrows correspondingly (edits confined to the unblocked
# suffix) — the standard blocked-ER contract, mirrored in the oracle.
NAME_BLOCK_LEN = 16
NAME_MAX_DIST = 2


def name_match_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate customer names within a nation: Levenshtein ≤ 2
    under prefix blocking — the classic entity-resolution shape for
    RELATIONAL records (the document-domain twin is dedup_edit_distance
    with its custom banded DP; here the built-in JVM levenshtein does
    the scoring). Blocking keys (name prefix × nation) turn the O(n²)
    all-pairs into bounded per-block equi-join work — same-block
    recall only, the standard ER tradeoff, mirrored exactly in the
    oracle so parity stays total. See NAME_BLOCK_LEN above for why the
    prefix length governs whether the pair space is linear at 100 TB.
    """
    # fan_out (r17): the small dim broadcasts, so the join's
    # parallelism is the PROBE side's scan partitioning — a single-file
    # customer scan ran all block-pair DPs on one task (measured 15.6 s
    # at sf0.1; ~1 s fanned out). No-op on real multi-file inputs.
    c = fan_out(
        load_table(spark, sf_dir, "customer").select(
            F.col("c_custkey").alias("k"),
            F.col("c_name").alias("nm"),
            F.col("c_nationkey").alias("nat"),
            F.substring("c_name", 1, NAME_BLOCK_LEN).alias("blk"),
        )
    )
    a, b = c.alias("a"), c.alias("b")
    pairs = a.join(
        b,
        (F.col("a.blk") == F.col("b.blk"))
        & (F.col("a.nat") == F.col("b.nat"))
        & (F.col("a.k") < F.col("b.k")),
    )
    # Bounded DP (threshold form): abandons a pair once its distance
    # provably exceeds NAME_MAX_DIST, returning -1 — a surviving pair
    # always carries its exact distance, so the unbounded oracle
    # matches row for row. The -1 sentinel must be excluded explicitly.
    dist = F.levenshtein(F.col("a.nm"), F.col("b.nm"), NAME_MAX_DIST)
    return pairs.where(
        (dist >= 0) & (dist <= NAME_MAX_DIST)
    ).select(
        F.col("a.k").cast("long").alias("custkey_a"),
        F.col("b.k").cast("long").alias("custkey_b"),
        dist.cast("int").alias("edit_dist"),
    )


NAME_MATCH_ORACLE = f"""
SELECT CAST(a.c_custkey AS BIGINT) AS custkey_a,
       CAST(b.c_custkey AS BIGINT) AS custkey_b,
       CAST(levenshtein(a.c_name, b.c_name) AS INTEGER) AS edit_dist
FROM customer a
JOIN customer b
  ON substr(a.c_name, 1, {NAME_BLOCK_LEN}) = substr(b.c_name, 1, {NAME_BLOCK_LEN})
 AND a.c_nationkey = b.c_nationkey
 AND a.c_custkey < b.c_custkey
WHERE levenshtein(a.c_name, b.c_name) <= {NAME_MAX_DIST}
"""

# Round-17 rotation: promoted (never driver-checked; fuzzy name join
# via blocking + edit-distance verify).
QUERIES["name_match_pairs"] = name_match_pairs
ORACLES["name_match_pairs"] = NAME_MATCH_ORACLE


# --------------------------------------------------------------------
# Layout data-skipping effectiveness (round 9)
# --------------------------------------------------------------------

# 2-D predicate box the scan-pruning comparison probes (fixed
# literals, replayed in the oracle): a custkey band x a ~6-month day
# band inside the 1995-2001 order range.
SKIP_CK_LO, SKIP_CK_HI = 10, 50
SKIP_DAY_LO, SKIP_DAY_HI = 9500, 9700
SKIP_CK_SHIFT = 4  # custkey-sorted layout: buckets of 16 adjacent keys
SKIP_DAY_SHIFT = 5  # day-sorted layout: buckets of 32 adjacent days
# Finer z shift than layout_zorder's 1024-bucket view: the fixture's
# custkeys occupy ~11 of the 16 interleaved bits, so the global shift
# collapses to a handful of buckets; 2^18 granularity yields a bucket
# count comparable to the two single-column layouts at these SFs.
SKIP_Z_SHIFT = 18


def layout_skipping_effectiveness(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """QUANTIFIES the z-order claim layout_zorder only illustrates:
    for one 2-D predicate box, what fraction of layout buckets can a
    scan prune from footer min/max envelopes alone — under the Morton
    z-order layout vs a custkey-only sort vs a day-only sort?
    Single-column layouts prune hard on their own axis and not at all
    on the other; z-order prunes on BOTH. One corpus scan: each row
    emits its bucket under all three layouts (explode of 3 structs),
    ONE (layout, bucket) aggregation builds the envelopes, and the
    final per-layout rollup (<= 3 x 1024 rows) counts prunable
    buckets and the rows a scan would still read.
    """
    orders = load_table(spark, sf_dir, "orders")
    day = F.datediff(
        F.col("o_orderdate").cast("date"), F.lit("1970-01-01")
    ).cast("long")
    ck = F.col("o_custkey").cast("long")
    xk = ck.bitwiseAND(F.lit((1 << ZBITS) - 1))
    yk = day.bitwiseAND(F.lit((1 << ZBITS) - 1))
    zbucket = F.shiftrightunsigned(
        _morton_spark(xk, yk), SKIP_Z_SHIFT
    )
    cbucket = F.shiftrightunsigned(ck, SKIP_CK_SHIFT)
    dbucket = F.shiftrightunsigned(day, SKIP_DAY_SHIFT)
    coded = orders.select(
        ck.alias("custkey"),
        day.alias("day"),
        F.explode(
            F.array(
                F.struct(
                    F.lit("zorder").alias("layout"),
                    zbucket.cast("long").alias("bucket"),
                ),
                F.struct(
                    F.lit("custkey_sort").alias("layout"),
                    cbucket.cast("long").alias("bucket"),
                ),
                F.struct(
                    F.lit("day_sort").alias("layout"),
                    dbucket.cast("long").alias("bucket"),
                ),
            )
        ).alias("lb"),
    ).select("custkey", "day", "lb.layout", "lb.bucket")
    envelopes = coded.groupBy("layout", "bucket").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.min("custkey").alias("min_ck"),
        F.max("custkey").alias("max_ck"),
        F.min("day").alias("min_day"),
        F.max("day").alias("max_day"),
    )
    prunable = (
        (F.col("max_ck") < SKIP_CK_LO)
        | (F.col("min_ck") > SKIP_CK_HI)
        | (F.col("max_day") < SKIP_DAY_LO)
        | (F.col("min_day") > SKIP_DAY_HI)
    )
    return envelopes.groupBy("layout").agg(
        F.count(F.lit(1)).cast("long").alias("n_buckets"),
        F.sum(prunable.cast("long")).cast("long").alias("n_prunable"),
        F.round(
            F.sum(prunable.cast("long"))
            / F.count(F.lit(1)).cast("double"),
            6,
        ).alias("frac_prunable"),
        F.sum(
            F.when(prunable, F.lit(0)).otherwise(F.col("n_rows"))
        ).cast("long").alias("rows_scanned"),
    )


LAYOUT_SKIPPING_ORACLE = f"""
WITH coded AS (
  SELECT CAST(o_custkey AS BIGINT) AS custkey,
         CAST(datediff('day', DATE '1970-01-01',
                       CAST(o_orderdate AS DATE)) AS BIGINT) AS day
  FROM orders
), lb AS (
  SELECT 'zorder' AS layout,
         CAST(({_morton_sql(f"(custkey & {_ZMASK})",
                            f"(day & {_ZMASK})")}) >> {SKIP_Z_SHIFT}
              AS BIGINT) AS bucket,
         custkey, day
  FROM coded
  UNION ALL
  SELECT 'custkey_sort', custkey >> {SKIP_CK_SHIFT}, custkey, day
  FROM coded
  UNION ALL
  SELECT 'day_sort', day >> {SKIP_DAY_SHIFT}, custkey, day FROM coded
), env AS (
  SELECT layout, bucket, CAST(COUNT(*) AS BIGINT) AS n_rows,
         MIN(custkey) AS min_ck, MAX(custkey) AS max_ck,
         MIN(day) AS min_day, MAX(day) AS max_day
  FROM lb GROUP BY 1, 2
), flagged AS (
  SELECT layout, n_rows,
         CASE WHEN max_ck < {SKIP_CK_LO} OR min_ck > {SKIP_CK_HI}
                OR max_day < {SKIP_DAY_LO} OR min_day > {SKIP_DAY_HI}
              THEN 1 ELSE 0 END AS prunable
  FROM env
)
SELECT layout,
       CAST(COUNT(*) AS BIGINT) AS n_buckets,
       CAST(SUM(prunable) AS BIGINT) AS n_prunable,
       ROUND(CAST(SUM(prunable) AS DOUBLE) / COUNT(*), 6)
         AS frac_prunable,
       CAST(SUM(CASE WHEN prunable = 1 THEN 0 ELSE n_rows END)
            AS BIGINT) AS rows_scanned
FROM flagged GROUP BY 1
"""

# Round-19 demotion (green r15-r18).
EXTRA_QUERIES["layout_skipping_effectiveness"] = (
    layout_skipping_effectiveness
)
EXTRA_ORACLES["layout_skipping_effectiveness"] = LAYOUT_SKIPPING_ORACLE


# --- cross-table data-quality audits (round 11): the two checks
# quality_constraints' single-table scan cannot express.

_RI_EDGES = [
    # (edge name, child table, child key, parent table, parent key)
    ("lineitem.orderkey->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem.partkey->part", "lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem.suppkey->supplier", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("orders.custkey->customer", "orders", "o_custkey", "customer", "c_custkey"),
    ("customer.nationkey->nation", "customer", "c_nationkey", "nation", "n_nationkey"),
]


def ri_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit of every foreign-key edge in the
    star schema: child row count, orphan rows (child key with no
    parent), and the 6dp orphan ratio. Edges sharing a child table are
    FUSED into one scan (round 12 — lineitem carries three FK edges;
    one pass probes all three broadcast parent-key tables and one
    aggregate emits every edge's orphan count, then an inline unpivot
    yields per-edge rows): the child fact table is scanned ONCE per
    TABLE with only the key columns read (column pruning); at 100 TB
    this is the cheap nightly FK health check, not a join of the full
    rows."""
    by_child: dict[str, list] = {}
    for edge in _RI_EDGES:
        by_child.setdefault(edge[1], []).append(edge)
    frames = []
    for child_t, edges in by_child.items():
        child = load_table(spark, sf_dir, child_t).select(
            *[F.col(e[2]).alias(f"_k{i}") for i, e in enumerate(edges)]
        )
        joined = child
        for i, (_, _, _, parent_t, parent_k) in enumerate(edges):
            parent = (
                load_table(spark, sf_dir, parent_t)
                .select(F.col(parent_k).alias(f"_k{i}"))
                .distinct()
                .withColumn(f"_hit{i}", F.lit(1))
            )
            joined = joined.join(F.broadcast(parent), on=f"_k{i}", how="left")
        agg = joined.agg(
            F.count(F.lit(1)).cast("long").alias("n_child"),
            *[
                F.sum(F.when(F.col(f"_hit{i}").isNull(), 1).otherwise(0))
                .cast("long")
                .alias(f"_orph{i}")
                for i in range(len(edges))
            ],
        )
        frames.append(
            agg.select(
                F.explode(
                    F.array(
                        *[
                            F.struct(
                                F.lit(e[0]).alias("fk_edge"),
                                F.col("n_child").alias("n_child"),
                                F.col(f"_orph{i}").alias("n_orphan"),
                            )
                            for i, e in enumerate(edges)
                        ]
                    )
                ).alias("r")
            ).select(
                "r.fk_edge",
                "r.n_child",
                "r.n_orphan",
                F.round(F.col("r.n_orphan") / F.col("r.n_child"), 6).alias(
                    "orphan_ratio"
                ),
            )
        )
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out


def _ri_oracle() -> str:
    parts = []
    for name, child_t, child_k, parent_t, parent_k in _RI_EDGES:
        parts.append(f"""
SELECT '{name}' AS fk_edge,
       CAST(COUNT(*) AS BIGINT) AS n_child,
       CAST(COUNT(*) FILTER (WHERE NOT EXISTS (
         SELECT 1 FROM {parent_t} p WHERE p.{parent_k} = c.{child_k}
       )) AS BIGINT) AS n_orphan,
       ROUND(COUNT(*) FILTER (WHERE NOT EXISTS (
         SELECT 1 FROM {parent_t} p WHERE p.{parent_k} = c.{child_k}
       ))::DOUBLE / COUNT(*), 6) AS orphan_ratio
FROM {child_t} c""")
    return "\nUNION ALL\n".join(parts)


# Round-12 rotation: promoted to a driver slot (round-11 addition,
# never driver-checked; the only FK-orphan audit plan shape).
# Round-17 rotation: demoted after multiple green driver rounds.
EXTRA_QUERIES["ri_audit"] = ri_audit
EXTRA_ORACLES["ri_audit"] = _ri_oracle()


_FD_CANDIDATES = [
    # (fd name, table, determinant col, dependent col)
    ("part: name->type", "part", "p_name", "p_type"),
    ("part: name->brand", "part", "p_name", "p_brand"),
    ("customer: cust->nation", "customer", "c_custkey", "c_nationkey"),
    ("orders: cust->priority", "orders", "o_custkey", "o_orderpriority"),
]


def fd_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Functional-dependency audit: for each candidate A->B, count the
    determinant values that map to MORE than one dependent value
    (violations) — the schema-inference / denormalization-safety
    primitive ('can I key a dimension on A?'). One groupBy per
    candidate at the determinant grain; violation_ratio is 6dp."""
    frames = []
    for name, table, det, dep in _FD_CANDIDATES:
        grain = (
            load_table(spark, sf_dir, table)
            .groupBy(F.col(det).alias("a"))
            .agg(F.count_distinct(F.col(dep)).alias("n_dep"))
        )
        frames.append(
            grain.agg(
                F.lit(name).alias("fd"),
                F.count(F.lit(1)).cast("long").alias("n_determinants"),
                F.sum(F.when(F.col("n_dep") > 1, 1).otherwise(0))
                .cast("long")
                .alias("n_violating"),
            ).select(
                "fd",
                "n_determinants",
                "n_violating",
                F.round(
                    F.col("n_violating") / F.col("n_determinants"), 6
                ).alias("violation_ratio"),
            )
        )
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out


def _fd_oracle() -> str:
    parts = []
    for name, table, det, dep in _FD_CANDIDATES:
        parts.append(f"""
SELECT '{name}' AS fd,
       CAST(COUNT(*) AS BIGINT) AS n_determinants,
       CAST(COUNT(*) FILTER (WHERE n_dep > 1) AS BIGINT) AS n_violating,
       ROUND(COUNT(*) FILTER (WHERE n_dep > 1)::DOUBLE / COUNT(*), 6)
         AS violation_ratio
FROM (
  SELECT {det} AS a, COUNT(DISTINCT {dep}) AS n_dep
  FROM {table} GROUP BY 1
)""")
    return "\nUNION ALL\n".join(parts)


# Round-12 rotation: promoted to a driver slot (round-11 addition,
# never driver-checked; functional-dependency violation audit).
# Round-17 rotation: demoted after multiple green driver rounds.
EXTRA_QUERIES["fd_audit"] = fd_audit
EXTRA_ORACLES["fd_audit"] = _fd_oracle()


# --------------------------------------------------------------------
# Bloom-prefilter join
# --------------------------------------------------------------------

# Bloom geometry: m bits, k=2 probes. At sf0.01 the build side is a few
# hundred urgent high-value orders against a 2^17-bit space — FP rate
# ~(n*k/m)^k ≈ 1e-4 — but the RESULT is exact regardless: the bloom
# pass only admits a superset of matching probe rows and the exact join
# removes false positives, which is why a plain-join DuckDB oracle
# value-checks the whole pipeline.
BLOOM_M = 1 << 17
BLOOM_SEEDS = (0x51ED, 0xC0FE)
BLOOM_PRICE_MIN = 150000.0


def _bloom_bucket(col, seed: int):
    """One bloom probe: seeded xxhash64 folded into the m-bit space.
    pmod keeps the signed-long hash non-negative; the seed rides as an
    extra hashed column, the standard Spark idiom for a hash family."""
    return F.pmod(F.xxhash64(col, F.lit(seed)), F.lit(BLOOM_M))


def bloom_prefilter_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue by return flag for urgent, high-value orders — executed as
    a bloom-prefiltered join, the shape a selective fact-to-fact join
    takes at 100 TB.

    The naive plan shuffles EVERY lineitem row on l_orderkey even
    though <1% of orders qualify. The scale plan broadcasts an m-bit
    bloom filter of the qualifying order keys (k=2 seeded xxhash64
    probes, each a broadcast LEFT SEMI against the same ≤m-row distinct
    bit table) and drops non-matching lineitem rows BEFORE the shuffle
    — the same plan Spark's own runtime-filter rewrite
    (spark.sql.optimizer.runtime.bloomFilter.enabled, InjectRuntimeFilter)
    produces, constructed here explicitly so the mechanics are visible
    and oracle-checkable. False positives survive the prefilter but
    never the exact equi-join that follows; the DuckDB twin is the
    plain join, so parity proves the bloom admitted every true match.

    Scale notes: the bit table is at most m distinct ints (~1 MB
    broadcast at m=2^17; size m to ~10 bits/key at the real build-side
    cardinality), the two semi-joins are map-side (no shuffle of the
    probe), and the only shuffle left is the final small join + agg.
    """
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    build = orders.filter(
        (F.col("o_orderpriority") == "1-URGENT")
        & (F.col("o_totalprice") > BLOOM_PRICE_MIN)
    )
    bits = (
        build.select(
            F.explode(
                F.array(
                    *[
                        _bloom_bucket(F.col("o_orderkey"), s)
                        for s in BLOOM_SEEDS
                    ]
                )
            ).alias("bit")
        )
        .distinct()
    )
    probe = li
    for s in BLOOM_SEEDS:
        probe = probe.join(
            F.broadcast(bits),
            _bloom_bucket(F.col("l_orderkey"), s) == F.col("bit"),
            "left_semi",
        )
    joined = probe.join(
        build.select("o_orderkey"),
        F.col("l_orderkey") == F.col("o_orderkey"),
    )
    return (
        joined.groupBy("l_returnflag")
        .agg(
            F.count("*").cast("long").alias("n_items"),
            F.countDistinct("o_orderkey").cast("long").alias("n_orders"),
            dsum(
                F.col("l_extendedprice") * (1.0 - F.col("l_discount"))
            ).alias("revenue"),
        )
        .orderBy("l_returnflag")
    )


BLOOM_JOIN_ORACLE = f"""
SELECT l.l_returnflag,
       CAST(COUNT(*) AS BIGINT) AS n_items,
       CAST(COUNT(DISTINCT o.o_orderkey) AS BIGINT) AS n_orders,
       {dsum_sql('l.l_extendedprice * (1.0 - l.l_discount)')} AS revenue
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
WHERE o.o_orderpriority = '1-URGENT'
  AND o.o_totalprice > {BLOOM_PRICE_MIN}
GROUP BY l.l_returnflag
ORDER BY l.l_returnflag
"""

# Round-15 addition: enters as an oracled extra (sweep-checked); the
# exact-join oracle proves the bloom admitted every true match.
# Round-16 rotation: promoted to a driver slot (never driver-checked).
QUERIES["bloom_prefilter_join"] = bloom_prefilter_join
ORACLES["bloom_prefilter_join"] = BLOOM_JOIN_ORACLE
