"""Skew mitigation operators.

At 100 TB a handful of hot keys (the null user, a bot account, a
default category) can hold an entire stage hostage. Two mitigations,
complementing AQE's runtime skew-join splitting (on in session.py):

- ``salted_agg`` — two-phase aggregation: spray each key across
  ``n_salts`` sub-keys, partially aggregate, then merge the partials.
  The second shuffle moves one row per (key, salt) instead of the raw
  rows, so the hot key's data never lands on a single task.
  Works for any DECOMPOSABLE aggregate (sum/count/min/max — pass the
  merge form).
- ``salted_join`` — replicate the small side ``n_salts`` times and salt
  the big side's key: the hot key's rows split over n_salts tasks.
  Only needed when the small side is too big to broadcast but the big
  side is skewed; AQE's skew-join handles the sort-merge case, this is
  the explicit fallback.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def salted_agg(
    df: DataFrame,
    key: str,
    partial_aggs: Sequence[tuple[Column, str]],
    merge_aggs: Sequence[tuple[Column, str]],
) -> DataFrame:
    """Two-phase skew-proof aggregation.

    partial_aggs: (expr, alias) computed per (key, salt);
    merge_aggs:   (expr over the partial aliases, final alias).
    """
    salted = df.withColumn(
        "_salt", (F.rand(seed=42) * 16).cast("int")
    )
    partial = salted.groupBy(key, "_salt").agg(
        *[expr.alias(name) for expr, name in partial_aggs]
    )
    return partial.groupBy(key).agg(
        *[expr.alias(name) for expr, name in merge_aggs]
    )


def salted_join(
    big: DataFrame,
    small: DataFrame,
    key: str,
    n_salts: int = 16,
) -> DataFrame:
    """Equi-join with the big side salted and the small side replicated
    n_salts times — splits each hot key over n_salts tasks."""
    big_salted = big.withColumn(
        "_salt", (F.rand(seed=42) * n_salts).cast("int")
    )
    small_replicated = small.withColumn(
        "_salt", F.explode(F.array(*[F.lit(i) for i in range(n_salts)]))
    )
    return big_salted.join(small_replicated, on=[key, "_salt"]).drop("_salt")


def adaptive_salted_join(
    big: DataFrame,
    small: DataFrame,
    key: str,
    hot_threshold: int = 100_000,
    n_salts: int = 16,
) -> DataFrame:
    """Hot-key-only salting — the production form of :func:`salted_join`.

    ``salted_join`` replicates the ENTIRE small side ``n_salts`` times;
    at 100 TB that multiplies the shuffle of a possibly-large build
    side by 16 to fix a handful of keys. This variant first profiles
    the big side's key frequencies (one map-side-combined count pass —
    the same diagnostic ``skew_profile_orders`` runs), tags keys above
    ``hot_threshold`` as hot, and then:

    - big side: hot rows get a random salt in [0, n_salts), cold rows
      salt 0 — each hot key spreads over n_salts tasks, cold keys are
      untouched;
    - small side: ONLY hot-key rows are replicated n_salts times; the
      rest ship once.

    Replicated-row overhead is ``(n_salts - 1) x |small ∩ hot|``
    instead of ``(n_salts - 1) x |small|``. The hot set is carried as
    a broadcast semi-join tag, never collected to the driver, so an
    adversarial corpus with many hot keys degrades to extra broadcast
    size, not a driver OOM. Join results are row-identical to the
    plain equi-join (tests/test_skew_ivf.py asserts multiset
    equality).

    Because the frequency profile and the join both consume ``big``,
    the frame is pinned with ``localCheckpoint(eager=True)`` first —
    otherwise the profile count pass re-executes big's ENTIRE upstream
    lineage (advisor round-9: ``skewsafe_nation_revenue`` computed its
    orders⋈customer join twice)."""
    # One materialization scan buys: profile reads the pinned
    # partitions, not the upstream plan, and the join re-reads the
    # same pin — big's lineage executes exactly once.
    big = big.localCheckpoint(eager=True)
    counts = big.groupBy(key).agg(F.count(F.lit(1)).alias("_cnt"))
    hot = counts.filter(F.col("_cnt") > hot_threshold).select(
        key, F.lit(True).alias("_hot")
    )
    big_tagged = big.join(F.broadcast(hot), on=key, how="left")
    big_salted = big_tagged.withColumn(
        "_salt",
        F.when(
            F.col("_hot").isNotNull(),
            (F.rand(seed=42) * n_salts).cast("int"),
        ).otherwise(F.lit(0)),
    ).drop("_hot")
    small_tagged = small.join(F.broadcast(hot), on=key, how="left")
    small_replicated = small_tagged.withColumn(
        "_salt",
        F.explode(
            F.when(
                F.col("_hot").isNotNull(),
                F.array(*[F.lit(i) for i in range(n_salts)]),
            ).otherwise(F.array(F.lit(0)))
        ),
    ).drop("_hot")
    return big_salted.join(small_replicated, on=[key, "_salt"]).drop("_salt")
