"""Shared helpers for the extension operators."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..session import memo


def _scan_partitions(df: DataFrame) -> int:
    """The frame's partition count, memoized per session and input file
    set: ``df.rdd.getNumPartitions()`` plans the whole frame, and every
    ``fan_out`` call site hands in a scan-stage frame whose count is a
    property of its files, not of the projection on top."""
    try:
        files = tuple(sorted(df.inputFiles()))
    except Exception:  # non-file-backed frame (createDataFrame, etc.)
        files = ()
    if not files:
        return df.rdd.getNumPartitions()
    return memo(
        df.sparkSession, ("scan_partitions", files), lambda: df.rdd.getNumPartitions()
    )


def fan_out(df: DataFrame) -> DataFrame:
    """Round-robin repartition a compute-bound frame up to the session's
    default parallelism — a no-op whenever the scan already produced at
    least that many partitions (the cluster / 100 TB case, where inputs
    split into thousands of tasks).

    Exists for the opposite case: a small single-file scan (one parquet
    row group = one unsplittable task) feeding CPU-heavy per-row work
    (regex shingling, md5, vector math) would otherwise run on ONE core.
    The extra shuffle moves only that small frame, by definition of the
    trigger condition. The partition probe is memoized per source file
    set so repeated operator calls don't re-plan the scan.
    """
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    if _scan_partitions(df) < target:
        return df.repartition(target)
    return df


# ---------------------------------------------------------------------------
# Deterministic hashing: every engine-reproducible draw (samples, splits,
# shards, sketch slots, fingerprints, the bootstrap) is built from these
# three pairs. Each Spark form and its DuckDB twin give identical values.
# ---------------------------------------------------------------------------

# 13 hex digits = 52 bits: the prefix, plus one, is exact in a double.
_U_DENOM = float(16**13 + 1)


def keyed_md5(key: Column | str, salt: str) -> Column:
    """Hex digest of ``salt || CAST(key AS string)``; a different salt
    gives an independent draw over the same keys."""
    if isinstance(key, str):
        key = F.col(key)
    return F.md5(F.concat(F.lit(salt), key.cast("string")))


def keyed_md5_sql(key: str, salt: str) -> str:
    """DuckDB twin of :func:`keyed_md5` over the SQL expression ``key``."""
    quoted = salt.replace("'", "''")
    return f"md5('{quoted}' || CAST({key} AS VARCHAR))"


def hex_int(digest: Column, n_hex: int) -> Column:
    """The first ``n_hex`` hex digits of ``digest`` as a long (at most
    15 digits fit a signed long)."""
    return F.conv(F.substring(digest, 1, n_hex), 16, 10).cast("long")


def hex_int_sql(digest: str, n_hex: int) -> str:
    """DuckDB twin of :func:`hex_int`."""
    return f"CAST('0x' || substr({digest}, 1, {n_hex}) AS BIGINT)"


def md5_uniform(digest: Column) -> Column:
    """A uniform draw ``(hex_int(digest, 13) + 1) / (16^13 + 1)``.

    Thirteen hex digits parse to an integer a double holds exactly, so
    both engines divide the same two doubles and round the same way.
    The value lies strictly inside (0, 1), which keeps ``ln(u)``,
    ``-ln(-ln(u))`` and ``(1 - u)^(-1/a)`` finite."""
    return (hex_int(digest, 13) + 1) / F.lit(_U_DENOM)


def md5_uniform_sql(digest: str) -> str:
    """DuckDB twin of :func:`md5_uniform`."""
    return f"(({hex_int_sql(digest, 13)} + 1) / {_U_DENOM!r})"
