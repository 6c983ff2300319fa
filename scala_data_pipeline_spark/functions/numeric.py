"""Numeric helpers for oracle-exact aggregation.

Summing IEEE doubles is order-dependent; a distributed sum and a
single-threaded oracle sum disagree in the low bits, which breaks
value-hash comparison. The fix: round each ROW to a fixed decimal scale
(both engines round the identical input double identically), sum the
resulting exact decimals (associative, order-independent), and cast the
final result back to double. ``dsum`` encapsulates that pattern; every
monetary/ratio aggregate in the query layer uses it, with the matching
``CAST(SUM(CAST(x AS DECIMAL(18,s))) AS DOUBLE)`` in the DuckDB oracle.

This is not just an oracle trick — at cluster scale it makes aggregate
results independent of partitioning/task order, i.e. reproducible runs.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def dsum(col: Column, scale: int = 4) -> Column:
    """Order-independent sum: per-row decimal rounding, exact decimal sum,
    double result."""
    return F.sum(col.cast(f"decimal(18,{scale})")).cast("double")


def davg(col: Column) -> Column:
    """Order-independent average built from dsum / count (double division
    of identical operands is deterministic on both engines)."""
    return dsum(col) / F.count(col)


def dsum_sql(expr: str, scale: int = 4) -> str:
    """DuckDB-side twin of :func:`dsum`."""
    return f"CAST(SUM(CAST(({expr}) AS DECIMAL(18,{scale}))) AS DOUBLE)"


def davg_sql(expr: str) -> str:
    return f"{dsum_sql(expr)} / COUNT({expr})"
