"""Matrix operators: users×items count matrix + incremental merge and
the per-user feature matrix (SURVEY.md §2 A2/A4/A5/F18/F19, W1).

Reference parity:
- ``users_items_matrix`` rebuilds users_items/users_items.scala:31-82:
  project (uid, prefixed item key) from view/buy events, union, pivot to
  a wide 0/N count matrix. The reference discovers pivot values with an
  eager distinct job; we take explicit value lists (schema stability +
  no extra full scan at 100 TB).
- ``merge_matrix`` is the incremental mode (users_items.scala:56-96):
  pivot the new events to a wide matrix, union with the previous
  matrix, sum column-wise per uid. One fixed-width row per user per
  side crosses the shuffle; no data-dependent schema step.
- ``user_time_matrix`` rebuilds features/features.scala:50-100: hour-of-
  day and weekday count pivots left-joined onto per-user work/evening
  fractions (J6 chain), with the packed feature vector (F18) emitted as
  an ``array<bigint>``.

Scan parallelism: ``event_items_long`` wraps its events input in
``ext.util.fan_out`` — the sf0.1 events fixture is one unsplittable
parquet row group, which would run the from_json + 200-condition pivot
agg's map side on a single core; at real scale events arrive in many
splits and fan_out is a no-op. All downstream aggregates are
count/sum-based, so the repartition cannot change results.
``user_time_matrix`` deliberately does NOT fan out (see inline note).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..ext.util import fan_out
from ..functions.timefn import WEEKDAYS, in_hour_range, weekday_name
from .aggregates import pivot_counts

ITEM_IDS = tuple(str(i) for i in range(100))  # events props.k domain, all SFs


def event_items_long(
    events: DataFrame, extra_cols: Sequence[str] = ()
) -> DataFrame:
    """(user_id, item[, *extra_cols]) rows from view/purchase events —
    the projection users_items.scala:31-45 does per source dir, union
    built in. ``extra_cols`` keeps additional narrow columns (e.g. ts
    for an incremental split) without widening the default projection."""
    typed = fan_out(events).filter(
        F.col("user_id").isNotNull() & F.col("event_type").isin("view", "purchase")
    )
    prefix = F.when(F.col("event_type") == "view", "view_item").otherwise("buy_item")
    k = F.from_json("props", "k INT")["k"]
    return typed.select(
        "user_id", F.concat(prefix, k.cast("string")).alias("item"), *extra_cols
    )


def item_values() -> list[str]:
    return [f"view_item{i}" for i in ITEM_IDS] + [f"buy_item{i}" for i in ITEM_IDS]


def users_items_matrix(events: DataFrame) -> DataFrame:
    return pivot_counts(
        event_items_long(events), key="user_id", pivot_col="item",
        values=item_values(),
    )


def merge_matrices(old_matrix: DataFrame, new_matrix: DataFrame) -> DataFrame:
    """Union two wide users×items matrices and sum column-wise per user.

    Merging WIDE beats the long-form round-trip (unpivot old → union →
    re-pivot) measured 2×: the long path expands users × 200 columns
    into per-cell rows and re-evaluates 200 conditional aggregates per
    row, while the wide path shuffles one ~200-column row per user per
    side and sums vectors. The fixed, explicit item domain is what makes
    this safe — the wide row width is a constant, not data-dependent.
    """
    cols = [c for c in old_matrix.columns if c != "user_id"]
    return (
        old_matrix.unionByName(new_matrix)
        .groupBy("user_id")
        .agg(*[F.sum(c).alias(c) for c in cols])
    )


def merge_matrix(old_matrix: DataFrame, new_events: DataFrame) -> DataFrame:
    """Incremental users×items update (users_items.scala:56-96
    semantics): pivot the new events into a wide matrix of their own,
    then :func:`merge_matrices` with the previous matrix."""
    return merge_matrices(old_matrix, users_items_matrix(new_events))


def user_time_matrix(events: DataFrame) -> DataFrame:
    """Per-user time-features: visits, work/evening fractions, hour and
    weekday count pivots, packed hour vector (features.scala:50-100)."""
    # No fan_out here (unlike event_items_long): this map side is cheap
    # (hour extraction + ≤24 conditions), and each of the three pivot
    # branches would embed its own copy of the round-robin exchange —
    # measured 0.43 → 0.75 s at sf0.1 with fan_out, so the serial scan
    # wins at fixture scale and is irrelevant at cluster scale.
    visits = events.filter(F.col("user_id").isNotNull())
    fractions = (
        visits.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("visits"),
            F.count(F.when(in_hour_range(F.col("ts"), 9, 18), 1)).alias("work_cnt"),
            F.count(F.when(in_hour_range(F.col("ts"), 18, 24), 1)).alias("evening_cnt"),
        )
        .select(
            "user_id",
            "visits",
            (F.col("work_cnt") / F.col("visits")).alias("web_fraction_work_hours"),
            (F.col("evening_cnt") / F.col("visits")).alias(
                "web_fraction_evening_hours"
            ),
        )
    )
    hours = [str(h) for h in range(24)]
    hour_pivot = pivot_counts(
        visits.withColumn("hr", F.hour("ts").cast("string")),
        key="user_id", pivot_col="hr", values=hours, prefix="web_hour_",
    )
    day_pivot = pivot_counts(
        visits.withColumn("wd", weekday_name(F.col("ts"))),
        key="user_id", pivot_col="wd", values=list(WEEKDAYS), prefix="web_day_",
    )
    # J6 chain: left joins on uid; same-key joins reuse one shuffle
    # partitioning on user_id.
    wide = fractions.join(hour_pivot, on="user_id", how="left").join(
        day_pivot, on="user_id", how="left"
    ).na.fill(0)
    # F18: pack the 24 hour counts into one array<bigint> feature vector.
    return wide.withColumn(
        "hour_vector", F.array(*[F.col(f"web_hour_{h}") for h in hours])
    )
