"""Aggregation operators: pivot/unpivot, conditional aggs, top-k
(SURVEY.md §2.4, §2.6, F18-F19).

Reference parity:
- ``pivot_counts`` is the reference's workhorse ``groupBy(uid).pivot(k)
  .count`` (data_mart/data_mart.scala:114,126; users_items/users_items
  .scala:76-82; features/features.scala:50,80-90). We ALWAYS accept an
  explicit value list: a dynamic pivot runs an eager distinct job over
  the full input to discover columns — at 100 TB that is a full extra
  scan, and the output schema becomes data-dependent (a schema change
  when a new key appears). Callers pass known values; a
  ``distinct_values`` helper exists for the exploratory path.
- ``unpivot_counts`` is the stack()-based melt of
  users_items/users_items.scala:59-73, on Spark's native
  ``DataFrame.unpivot`` (Spark ≥3.4) — JVM-side, no generated SQL
  strings.
- ``topk`` is features/features.scala:31-38 (top-1000 domains):
  ``orderBy(desc).limit(k)`` which Catalyst executes as
  TakeOrderedAndProject — per-partition heap + driver merge, no global
  sort shuffle. A deterministic tiebreak column is required so the
  selected SET is stable across partitionings (and matches the oracle).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def sanitize_label(value: str) -> str:
    """Stable column name from a pivot value: lowercase, non-alnum → _."""
    return "".join(ch if ch.isalnum() else "_" for ch in value.lower())


def _checked_labels(values: Sequence[str], prefix: str) -> dict[str, str]:
    """value → sanitized column name, FAILING LOUDLY on collisions
    (round-13 review: 'a-b' and 'a_b' both sanitize to 'a_b', which
    silently produced two identically-named output columns that broke
    downstream select-by-name in both the Spark frame and its twin)."""
    labels = {v: f"{prefix}{sanitize_label(v)}" for v in values}
    seen: dict[str, str] = {}
    for v, lbl in labels.items():
        if lbl in seen.values():
            dup = next(k for k, s in seen.items() if s == lbl)
            raise ValueError(
                f"pivot values {dup!r} and {v!r} both sanitize to column"
                f" {lbl!r}; disambiguate the values or the prefix"
            )
        seen[v] = lbl
    return labels


def pivot_counts(
    df: DataFrame,
    key: str,
    pivot_col: str,
    values: Sequence[str],
    prefix: str = "",
) -> DataFrame:
    """Wide count matrix: semantically ``groupBy(key).pivot(pivot_col,
    values).count()`` + ``na.fill(0)``, but planned as ONE conditional
    aggregation instead of Spark's two-phase pivot.

    ``.pivot()`` plans two aggregations (partial on (key, pivot), final
    re-agg on key) = two shuffles; with an explicit value list the same
    result is ``count(when(pivot = v, 1))`` per value — a single shuffle
    on ``key`` with map-side partial aggregation. At 100 TB that halves
    the shuffle volume of the reference's workhorse operator
    (users_items/users_items.scala:76-82 et al.).
    """
    labels = _checked_labels(values, prefix)
    return df.groupBy(key).agg(
        *(
            F.count(F.when(F.col(pivot_col) == v, 1)).alias(labels[v])
            for v in values
        )
    )


def pivot_counts_sql(
    table_expr: str,
    key: str,
    pivot_col: str,
    values: Sequence[str],
    prefix: str = "",
) -> str:
    """DuckDB oracle twin of :func:`pivot_counts` via CASE-sums.
    Values are SQL-escaped (quote doubling — a value like "O'Brien"
    previously broke the oracle text while the Spark side compared the
    raw value fine, round-13 review)."""
    labels = _checked_labels(values, prefix)
    cols = ",\n    ".join(
        f"CAST(COALESCE(SUM(CASE WHEN {pivot_col} = "
        f"'{v.replace(chr(39), chr(39) * 2)}' THEN 1 END), 0)"
        f" AS BIGINT) AS {labels[v]}"
        for v in values
    )
    return f"SELECT {key},\n    {cols}\nFROM {table_expr}\nGROUP BY {key}"


def distinct_values(df: DataFrame, col: str) -> list[str]:
    """Eager distinct-value discovery for dynamic pivots (reference
    behavior at data_mart/data_mart.scala:114). Runs a job; avoid in the
    hot path at scale."""
    return sorted(r[0] for r in df.select(col).distinct().collect() if r[0] is not None)


def unpivot_counts(
    df: DataFrame, key: str, value_cols: Sequence[str]
) -> DataFrame:
    """Melt a wide count matrix back to long form (F19).

    Native ``unpivot`` replaces the reference's generated
    ``stack(n, 'c1', c1, ...)`` SQL string
    (users_items/users_items.scala:59-73).
    """
    return df.unpivot(
        ids=[key], values=list(value_cols), variableColumnName="item_id",
        valueColumnName="cnt",
    )


def topk(df: DataFrame, order_col: str, k: int, tiebreak: str) -> DataFrame:
    """Deterministic top-k (``order_col`` descending, ``tiebreak``
    ascending): TakeOrderedAndProject with a total order."""
    return df.orderBy(F.col(order_col).desc(), F.col(tiebreak).asc()).limit(k)
