"""SpaceSaving heavy hitters: bounded-memory single-pass frequent items.

Exact token frequency at 100 TB needs a corpus-wide shuffle keyed by
token (billions of distinct keys, Zipf skew). SpaceSaving (Metwally,
Agrawal, El Abbadi, "Efficient Computation of Frequent and Top-k
Elements in Data Streams", ICDT 2005) replaces it with ``m`` counters
per stream: on overflow the minimum counter is evicted and its count
inherited as the newcomer's overestimate. Guarantees per stream of
``n`` items: every item with true frequency > n/m is retained, and
``count - error <= true <= count``.

Spark shape: one ``mapInPandas`` pass per partition (Arrow-batched;
counters persist across the partition's batch iterator — no per-row
Python), emitting ``m`` summary rows per partition. The merge is a
groupBy over ~``partitions × m`` rows, independent of corpus size.
Summed SpaceSaving summaries stay mergeable (Agarwal et al.,
"Mergeable Summaries", PODS 2012) — but note which guarantees survive
the sum-merge: a token's occurrences in partitions that EVICTED it are
simply absent from the sum, so the merged ``est`` is no longer a
per-stream-style overestimate (it can under-count the global truth).
What does survive, and what the tests assert
(tests/test_heavyhitters.py): the upper bound ``est <= true + err``
(each partition's count never exceeds its local truth plus its
inherited error), and the detection guarantee — every token with true
global frequency > Σ n_p/m is present in the merged summary.

Tokenization matches ext/textstats.py (space-split, empties dropped)
so exact twins computed with those helpers line up term for term.

Rows-only registry entry: counts are approximate (partition-layout-
dependent overestimates), so no DuckDB hash twin exists; the invariant
tests pin the published bounds instead.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources import load_table

M_COUNTERS = 256
TOP_K = 20

SUMMARY_SCHEMA = "token string, est long, err long, pid long, n_part long"


def _spacesaving_partition(
    batches: Iterator[pd.DataFrame], m: int
) -> Iterator[pd.DataFrame]:
    """SpaceSaving over one partition's token stream. Counters live
    across the batch iterator; one summary frame is emitted at the end.
    """
    counts: dict[str, int] = {}
    errs: dict[str, int] = {}
    n = 0
    pid = -1
    for pdf in batches:
        if len(pdf) and pid < 0:
            pid = int(pdf["pid"].iloc[0])
        for text in pdf["text"]:
            if text is None:
                continue
            for tok in text.split(" "):
                if not tok:
                    continue
                n += 1
                if tok in counts:
                    counts[tok] += 1
                elif len(counts) < m:
                    counts[tok] = 1
                    errs[tok] = 0
                else:
                    victim = min(counts, key=counts.get)
                    floor = counts.pop(victim)
                    errs.pop(victim)
                    counts[tok] = floor + 1
                    errs[tok] = floor
    if counts:
        yield pd.DataFrame(
            {
                "token": list(counts),
                "est": list(counts.values()),
                "err": [errs[t] for t in counts],
                "pid": pid,
                "n_part": n,
            }
        )


def spacesaving_summaries(docs: DataFrame, m: int = M_COUNTERS) -> DataFrame:
    """Per-partition SpaceSaving summaries (≤ m rows per partition)."""
    return docs.select(
        "text", F.spark_partition_id().cast("long").alias("pid")
    ).mapInPandas(lambda it: _spacesaving_partition(it, m), schema=SUMMARY_SCHEMA)


def heavy_hitters(
    spark: SparkSession, sf_dir: str, k: int = TOP_K
) -> DataFrame:
    """Approximate top-k tokens across the documents corpus.

    ``guarantee`` is the merged detection threshold Σ n_p/M_COUNTERS: any token
    whose true corpus frequency exceeds it is certainly present, and
    ``est`` bounds the true count within [est - err, est].
    """
    summaries = spacesaving_summaries(
        load_table(spark, sf_dir, "documents")
    )
    merged = summaries.groupBy("token").agg(
        F.sum("est").alias("est"),
        F.sum("err").alias("err"),
    )
    return (
        merged.orderBy(F.desc("est"), "token")
        .limit(k)
        .select("token", "est", "err")
    )


def detection_guarantee(spark: SparkSession, sf_dir: str, m: int = M_COUNTERS) -> float:
    """Σ n_p/m over partitions — the merged frequency above which an
    item cannot have been evicted everywhere."""
    parts = (
        spacesaving_summaries(load_table(spark, sf_dir, "documents"), m)
        .select("pid", "n_part")
        .distinct()  # one row per source partition
        .groupBy()
        .agg(F.sum(F.col("n_part") / m).alias("g"))
        .collect()
    )
    return float(parts[0].g or 0.0)
