"""Single-SCAN table profiler: per-column null counts, distinct
counts, and numeric min/max — the DESCRIBE/summary() utility shape (at
100 TB, per-column profiling passes are the difference between one job
and N jobs).

COST HONESTY (round-13 review): one scan is NOT one cheap aggregation
in exact mode. N different COUNT(DISTINCT c_i) in one agg plan through
an Expand node that replicates every input row once per distinct
column — the shuffle carries ~(N+1)x the input rows. That still beats
N separate jobs (N scans AND N Expand-free shuffles). Distincts are
exact because exact distincts are what the DuckDB oracle can check
bit-for-bit.

Output is long-form (column, n_nulls, n_distinct, min_num, max_num):
numeric and timestamp columns report min/max as doubles (timestamps as
epoch seconds — engine-identical); string columns report NULL there.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    NumericType,
    TimestampNTZType,
    TimestampType,
)


def profile_table(
    df: DataFrame,
    cols: list[str] | None = None,
) -> DataFrame:
    cols = cols or df.columns
    aggs = []
    for c in cols:
        dt = df.schema[c].dataType
        if isinstance(dt, NumericType):
            mn = F.min(c).cast("double")
            mx = F.max(c).cast("double")
        elif isinstance(dt, (TimestampType, TimestampNTZType)):
            # epoch seconds (micro fraction); NTZ values are UTC here
            # (session TZ pinned by load_table)
            mn = F.min(c).cast("timestamp").cast("double")
            mx = F.max(c).cast("timestamp").cast("double")
        else:
            mn = F.lit(None).cast("double")
            mx = F.lit(None).cast("double")
        aggs += [
            F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)).alias(
                f"__nn_{c}"
            ),
            F.count_distinct(F.col(c)).alias(f"__nd_{c}"),
            mn.alias(f"__mn_{c}"),
            mx.alias(f"__mx_{c}"),
        ]
    wide = df.agg(*aggs)
    rows = F.array(
        *[
            F.struct(
                F.lit(c).alias("column"),
                F.col(f"__nn_{c}").cast("long").alias("n_nulls"),
                F.col(f"__nd_{c}").cast("long").alias("n_distinct"),
                F.col(f"__mn_{c}").alias("min_num"),
                F.col(f"__mx_{c}").alias("max_num"),
            )
            for c in cols
        ]
    )
    return wide.select(F.explode(rows).alias("p")).select("p.*")


def profile_table_sql(
    table: str, cols: list[tuple[str, str]]
) -> str:
    """DuckDB twin. ``cols`` = (name, kind) with kind ∈ {'num', 'ts',
    'str'} mirroring the Spark-side dtype dispatch."""
    blocks = []
    for c, kind in cols:
        if kind == "num":
            mn, mx = f"CAST(MIN({c}) AS DOUBLE)", f"CAST(MAX({c}) AS DOUBLE)"
        elif kind == "ts":
            mn, mx = f"epoch(MIN({c}))", f"epoch(MAX({c}))"
        else:
            mn = mx = "CAST(NULL AS DOUBLE)"
        blocks.append(
            f"SELECT '{c}' AS \"column\",\n"
            f"  CAST(SUM(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT)"
            f" AS n_nulls,\n"
            f"  CAST(COUNT(DISTINCT {c}) AS BIGINT) AS n_distinct,\n"
            f"  {mn} AS min_num,\n"
            f"  {mx} AS max_num\n"
            f"FROM {table}"
        )
    return "\nUNION ALL\n".join(blocks)
