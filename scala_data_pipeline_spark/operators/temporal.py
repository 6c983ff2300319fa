"""Temporal join/window operators beyond the reference's inventory:
as-of join, range join, session windows, sliding windows.

The reference has none of these (SURVEY.md §2.3: "no theta, range,
as-of joins"; §2.9: "no sliding or session windows") — but an engine
claiming its query surface at 100 TB needs them, and each has a
Spark-first formulation:

- **as-of join** — the union-and-carry trick: tag both sides, union,
  one window pass per key ordered by time carrying the last right-side
  value forward. ONE shuffle on the key (same as the equivalent
  sort-merge join would need), no per-row subquery. DuckDB's native
  ``ASOF JOIN`` is the oracle.
- **range join** — non-equi band join; the band side is small by
  construction (bands, not rows), so broadcast-nested-loop is the
  correct plan and the fact side never shuffles.
- **session windows** — native ``F.session_window`` (works in batch
  and streaming); oracle = the classic gaps-and-islands SQL.
- **sliding windows** — native ``F.window(slide=...)``; each row lands
  in ``size/slide`` windows; oracle enumerates them with a series.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def asof_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    value_cols: list[str],
) -> DataFrame:
    """For every left row, attach the latest right row with
    ``right_ts <= left_ts`` for the same key.

    Implementation: union both sides with a side tag, sort per key by
    (ts, side) in one window pass, carry the last seen right-side values
    forward with ``last(..., ignorenulls=True)``, keep left rows. Right
    rows sort BEFORE left rows at equal timestamps (side 0 < side 1) so
    an exact-tie right row is visible to the left row — matching ASOF
    JOIN's ``>=`` semantics.
    """
    l_tagged = left.select(
        F.col(key),
        F.col(left_ts).alias("_ts"),
        F.lit(1).alias("_side"),
        *[F.lit(None).cast(right.schema[c].dataType).alias(c) for c in value_cols],
        *[F.col(c) for c in left.columns if c != key and c != left_ts],
    ).withColumn("_lts", F.col("_ts"))
    r_tagged = right.select(
        F.col(key),
        F.col(right_ts).alias("_ts"),
        F.lit(0).alias("_side"),
        *[F.col(c) for c in value_cols],
        *[
            F.lit(None).cast(left.schema[c].dataType).alias(c)
            for c in left.columns
            if c != key and c != left_ts
        ],
    ).withColumn("_lts", F.lit(None).cast(left.schema[left_ts].dataType))
    unioned = l_tagged.unionByName(r_tagged)
    # Deterministic tiebreak among right rows sharing (key, ts): order
    # additionally by the carried value columns, so the row sorted LAST
    # (the greatest value tuple) wins — without it the carried value
    # was partition-order-dependent and could flake the oracle hash on
    # tied timestamps (round-13 review; left rows are unaffected: _side
    # already orders them after every tied right row).
    w = (
        Window.partitionBy(key)
        .orderBy(
            F.col("_ts").asc(),
            F.col("_side").asc(),
            *[F.col(c).asc_nulls_first() for c in value_cols],
        )
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = unioned.select(
        F.col(key),
        "_side",
        F.col("_lts").alias("_left_ts"),
        # Carry a struct wrapper, not the bare value: the wrapper is
        # non-null for EVERY right row, so last(ignorenulls) picks the
        # latest matching right row even when its value column is NULL —
        # extracting the field then preserves that NULL, matching ASOF
        # JOIN semantics (a bare-value carry would silently fall back to
        # an older non-null value).
        *[
            F.last(
                F.when(F.col("_side") == 0, F.struct(F.col(c).alias("v"))),
                ignorenulls=True,
            )
            .over(w)
            .getField("v")
            .alias(c)
            for c in value_cols
        ],
        *[F.col(c) for c in left.columns if c != key and c != left_ts],
    )
    # Restore the caller's timestamp column name (round-13 review
    # finding: emitting it only as the internal _left_ts broke any
    # downstream select/window on the original name).
    return (
        carried.filter(F.col("_side") == 1)
        .drop("_side")
        .withColumnRenamed("_left_ts", left_ts)
    )


def range_band_join(
    fact: DataFrame, bands: DataFrame, value_col: str
) -> DataFrame:
    """fact ⋈ bands ON value ∈ [lo, hi) — the band side broadcast so the
    non-equi join is a fact-local nested loop over a handful of bands."""
    cond = (F.col(value_col) >= F.col("lo")) & (F.col(value_col) < F.col("hi"))
    return fact.join(F.broadcast(bands), on=cond, how="inner")


def session_agg(
    events: DataFrame,
    key: str,
    ts_col: str,
    gap: str,
    aggs: list[Column],
    watermark: str | None = None,
) -> DataFrame:
    """Per-key session windows with inactivity gap ``gap`` — native
    session_window, usable in batch AND streaming (pass ``watermark``
    for streaming: sessions finalize once the watermark passes their
    close, bounding state)."""
    if watermark is not None:
        events = events.withWatermark(ts_col, watermark)
    grouped = events.groupBy(
        F.session_window(F.col(ts_col), gap), F.col(key)
    ).agg(*aggs)
    return grouped.select(
        F.col(key),
        F.col("session_window.start").alias("session_start"),
        F.col("session_window.end").alias("session_end"),
        *[c for c in grouped.columns if c not in ("session_window", key)],
    )


def sliding_agg(
    events: DataFrame,
    ts_col: str,
    size: str,
    slide: str,
    aggs: list[Column],
) -> DataFrame:
    """Overlapping windows: each row contributes to size/slide windows."""
    grouped = events.groupBy(F.window(F.col(ts_col), size, slide)).agg(*aggs)
    return grouped.select(
        F.col("window.start").alias("window_start"),
        F.col("window.end").alias("window_end"),
        *[c for c in grouped.columns if c != "window"],
    )


def gap_fill_daily(
    df: DataFrame,
    key: str,
    date_col: str,
    value_col: str,
) -> DataFrame:
    """Regularize a sparse per-key daily series: emit one row per (key,
    day) over each key's [min_day, max_day] span, carrying the last
    observed value forward across the gaps (nulls before the first
    observation).

    PRECONDITION: one row per (key, date) — aggregate first (any
    within-day reduction here would be task-order-dependent). The spine
    generates JVM-side per key (``sequence`` of days — no driver loop,
    no cross join against a global calendar), so spine size is Σ
    per-key spans, not keys × global range. One shuffle on the key for
    the span agg, one for the fill window.
    """
    from pyspark.sql import Window

    spans = df.groupBy(key).agg(
        F.min(date_col).alias("d_min"), F.max(date_col).alias("d_max")
    )
    spine = spans.select(
        key, F.explode(F.sequence("d_min", "d_max")).alias(date_col)
    )
    observed = df.select(key, date_col, F.col(value_col).alias("_obs"))
    joined = spine.join(observed, on=[key, date_col], how="left")
    w = (
        Window.partitionBy(key)
        .orderBy(date_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return joined.select(
        key,
        date_col,
        F.last("_obs", ignorenulls=True).over(w).alias(value_col),
    )
