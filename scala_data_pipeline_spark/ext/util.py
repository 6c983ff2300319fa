"""Shared helpers for the extension operators."""

from __future__ import annotations

from pyspark.sql import DataFrame

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
