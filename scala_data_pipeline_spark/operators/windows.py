"""Analytic window functions (SURVEY.md §2.5).

The reference's ONLY analytic window is W1: an empty-partitionBy window
ordered by date desc, with ``first(...)`` broadcasting the dataset-wide
max date onto every row (users_items/users_items.scala:28,33,40).

``stamp_max_literal`` is the reference's literal shape. An empty
``partitionBy`` forces EVERY row through a single task: correct, and
catastrophic at scale. Kept for parity and to document the hazard.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def stamp_max_literal(df: DataFrame, order_col: Column, out_name: str) -> DataFrame:
    """W1 as written in the reference: single-partition global window.
    DO NOT use on large inputs — every row funnels through one task."""
    w = Window.partitionBy().orderBy(order_col.desc())
    return df.withColumn(out_name, F.first(order_col).over(w))
